"""Write one workload's input: ``generate_transcripts(sf, seed)`` as parquet,
plus a JSON sidecar with its turn and conversation counts.

Run as its own process (``python3 perfbench/gen.py --sf 0.1 --seed 42 --out
DIR``) so the generator's Python objects never count toward the measured
driver's peak memory. The repository root must be on ``PYTHONPATH``.
"""

from __future__ import annotations

import argparse
import json
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

from mapping_analysis_spark.data.transcripts import generate_transcripts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    table = generate_transcripts(args.sf, args.seed)
    os.makedirs(args.out, exist_ok=True)
    pq.write_table(table, os.path.join(args.out, "transcripts.parquet"))
    meta = {
        "turns": table.num_rows,
        "conversations": pc.count_distinct(table.column("conv_id")).as_py(),
    }
    with open(os.path.join(args.out, "meta.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    main()
