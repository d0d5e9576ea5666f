"""Per-row content invariants (SURVEY §2 B4; BASELINE.json:L15 "per-row
invariant vs the reference: content sha256 equality").

``check_content_sha`` joins the keyed corpus against the reference manifest
on (repo, path, commit) and counts sha mismatches + rows missing from the
manifest; callers hard-fail on a non-zero report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

JOIN_KEY = ["repo", "path", "commit"]


def check_content_sha(files_keyed: DataFrame, manifest: DataFrame) -> dict:
    """files_keyed must carry ``content_sha`` (kgx.io.source); manifest has
    (repo, path, commit, content_sha)."""
    m = manifest.select(*JOIN_KEY, F.col("content_sha").alias("__ref_sha"))
    joined = files_keyed.select(*JOIN_KEY, "content_sha").join(m, JOIN_KEY, "left")
    agg = joined.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("__ref_sha").isNull(), 1).otherwise(0)).alias("missing_in_manifest"),
        F.sum(
            F.when(
                F.col("__ref_sha").isNotNull() & (F.col("__ref_sha") != F.col("content_sha")), 1
            ).otherwise(0)
        ).alias("sha_mismatch"),
    ).collect()[0]
    return {
        "rows": agg["rows"],
        "missing_in_manifest": agg["missing_in_manifest"] or 0,
        "sha_mismatch": agg["sha_mismatch"] or 0,
        "ok": (agg["sha_mismatch"] or 0) == 0 and (agg["missing_in_manifest"] or 0) == 0,
    }

