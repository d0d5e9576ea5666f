"""spark-submit entry point (SURVEY §3.2; BASELINE.json:L6,L14
"packaged for spark-submit --py-files execution on multi-executor clusters").

    spark-submit --py-files kgx.zip jobs/run_pipeline.py \
        --input  <source_files table> \
        --dict   <compound_dict table> \
        --out    <triples table> \
        --run-dir <checkpoint root>  --run-id r1 \
        [--partitions N] [--format parquet|iceberg] [--golden <triples>] \
        [--manifest <manifest table>]

``--partitions`` sets the corpus fan-out; left out, it follows the
session's ``spark.sql.shuffle.partitions`` (e.g. ``--conf
spark.sql.shuffle.partitions=N``).

Prints a one-line JSON RunReport (row counts per stage, P/R when golden is
given, sha-invariant result when a manifest is given).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--dict", dest="dict_uri", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument("--run-dir", default=None)
    ap.add_argument("--run-id", default="r0")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--format", dest="fmt", default="parquet")
    ap.add_argument("--golden", default=None)
    ap.add_argument("--manifest", default=None)
    ap.add_argument("--no-fuzzy", action="store_true")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from kgx.pipeline import PipelineConfig, run_pipeline

    spark = SparkSession.builder.appName("kgx-run-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = PipelineConfig(
        source_uri=args.input,
        dict_uri=args.dict_uri,
        out_uri=args.out,
        run_dir=args.run_dir,
        run_id=args.run_id,
        num_partitions=args.partitions,
        enable_fuzzy=not args.no_fuzzy,
        table_format=args.fmt,
        # without a run-dir the mentions handle is omitted by default
        # (run_pipeline's fail-loud contract); this CLI reports a mentions
        # count, so opt in to the recompute-free bound view in that mode
        materialize_mentions=args.run_dir is None,
    )

    t0 = time.monotonic()
    out = run_pipeline(spark, cfg)
    n_triples = out["triples"].count()
    wall = time.monotonic() - t0

    report = {
        "run_id": args.run_id,
        "triples": n_triples,
        "mentions": out["mentions"].count(),
        "links": out["links"].count(),
        "wall_sec": round(wall, 2),
        "triples_per_sec": round(n_triples / wall, 1) if wall > 0 else None,
    }

    if args.manifest is not None:
        from kgx.io.source import latest_versions, scan_source_files
        from kgx.quality.invariants import check_content_sha

        files = scan_source_files(spark, args.input, fmt=args.fmt)
        report["sha_invariant"] = check_content_sha(files, spark.read.parquet(args.manifest))

    if args.golden is not None:
        from kgx.quality.pr import precision_recall

        golden = spark.read.parquet(args.golden)
        report["pr"] = precision_recall(out["triples"], golden)

    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
