"""Stage 2 — entity linking (SURVEY §2 K2; BASELINE.json:L6 stage (2)).

Methods, in score order (all against the broadcast lexicon — the dictionary
side of every join here is explicitly broadcast per the spec):

1. ``exact``      (1.00) — normalized surface = canonical name or formula.
2. ``systematic`` (0.95) — OPSIN-style resolution: separator-free skeleton
   lookup for systematic-looking surfaces that miss exact match
   [PK: molminer/OPSIN.py analogue; no subprocess — a broadcast join].
3. ``synonym``    (0.90) — normalized surface = lexicon synonym (misspelling
   / spacing variants recorded in the lexicon).
4. ``abbrev``     (0.85) — doc-local ``defined_as`` long form (bound at
   detection) resolved against the lexicon.
5. ``fuzzy``      (<0.80) — minhash-banded candidate generation + exact
   rerank in pandas UDF batches (kgx.link.minhash / kgx.link.rerank).

The cascade is ONE routing pass over the corpus: every vocabulary-sized
lookup (term table, skeleton index, abbrev long-form map, fuzzy
surface→compound map) is broadcast-left-joined onto the single mention
scan, and a priority ``when``-chain picks the winning method per row.
The branches are DISJOINT per mention by construction (exact/synonym
consume lexicon hits; systematic consumes exact-misses; fuzzy consumes
skeleton-misses; abbrev consumes the ABBREVIATION mtype no other branch
touches) and every lookup side is unique on its key (the term/skeleton
indexes by ``_unique_terms``/build; the fuzzy map reduced to top-1 per
surface with a VOCABULARY-sized window before it ever meets mention
rows), so each mention yields at most one link: the corpus is scanned
once, and no dedup or corpus-scale top-1 window is needed.  A mention with
no surviving method yields no link row (the reference drops unresolved
entities the same way [PK: molminer/Extractor.py]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgx.io.dictionary import skeleton_index_df, term_table
from kgx.link.rerank import rerank
from kgx.text.normalize import skeleton_col

_BASE_COLS = ["mention_id", "file_key", "repo", "path", "commit", "norm_text", "mtype", "defined_as"]
_LINK_COLS = ["mention_id", "file_key", "repo", "path", "commit", "compound_id", "score", "method"]
# full MENTIONS contract order (kgx.schemas.MENTIONS) — used when the caller
# asks for a recompute-free mentions view off the fused join checkpoint
_MENTION_COLS = [
    "file_key", "repo", "path", "commit", "lang",
    "mention_id", "start", "end", "text", "norm_text", "mtype", "defined_as",
]


def _unique_terms(terms: DataFrame) -> DataFrame:
    """Defensive: one compound per normalized surface (deterministic min)."""
    w = Window.partitionBy("term_norm").orderBy("compound_id", "kind")
    return (
        terms.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def link_entities(
    mentions: DataFrame,
    dict_df: DataFrame,
    enable_fuzzy: bool = True,
    fuzzy_broadcast_max_rows: int = 2_000_000,
    mentions_out: dict | None = None,
) -> DataFrame:
    """``mentions_out``: pass a dict to receive ``mentions_out["mentions"]``,
    a FULL-schema mentions view bound to the fused join's localCheckpoint —
    zero extra jobs, and consuming it cannot re-run detection (the checkpoint
    already holds every mention row exactly once: the lexicon side of the
    join is unique on term_norm, so the left join is row-preserving).  The
    join checkpoint then carries the 4 extra mention columns (lang, start,
    end, text — ~40 B/row); callers that don't need the view (the run_dir
    pipeline path, whose mentions are already a durable checkpoint) keep the
    slim 8-column base.
    """
    # terms is consumed by ~6 broadcast builds below; collapse it to one
    # cached partition so each build is a single-task collect instead of a
    # full window-shuffle job (the lexicon is broadcast-sized by design)
    sc = mentions.sparkSession.sparkContext
    sc.setJobDescription("kgx stage2: lexicon term table")
    terms = _unique_terms(term_table(dict_df)).coalesce(1).localCheckpoint()
    base = mentions.select(*(_MENTION_COLS if mentions_out is not None else _BASE_COLS))

    # --- exact / synonym (one broadcast join serves both) ------------------
    # j has two consumers (the routing pass below and the fuzzy channel's
    # distinct-surface scan): localCheckpoint it once so both read memory
    # instead of re-executing the detect+join lineage (removing this was
    # tried and measured 1.8× WORSE at local[8] on the 2.4M-file corpus —
    # re-reading the mentions checkpoint per consumer costs more than the
    # cached rows' GC pressure).
    #
    # ALL mention rows flow through this one join (ABBREVIATION rows too —
    # they are routed to their branch by the mtype filters below, never by a
    # second read of `mentions`): this makes j the SINGLE consumer of the
    # detection output, so when the caller passes a lazy `mentions` (the
    # no-run_dir pipeline path), scan→window→detect→join→checkpoint fuse
    # into one job and the corpus is materialized exactly once (see the
    # stage-boundary note in kgx/pipeline.py).
    sc.setJobDescription("kgx stage2: exact/synonym broadcast join")
    # drop the join key's lookup-side twin before checkpointing: term_norm
    # equals norm_text on every hit (and is null on misses), so carrying it
    # through the corpus-sized checkpoint is ~1 string per row of pure
    # redundancy (nothing downstream reads it)
    j = (
        base.join(
            F.broadcast(terms.select("term_norm", "compound_id", "kind")),
            base.norm_text == F.col("term_norm"),
            "left",
        )
        .drop("term_norm")
        .localCheckpoint()
    )
    if mentions_out is not None:
        mentions_out["mentions"] = j.select(*_MENTION_COLS)
    # --- single routing pass over j ---------------------------------------
    # Every lookup side is vocabulary-sized and unique on its key
    # (_unique_terms per term_norm; skeleton index per term_skeleton; fuzzy
    # map top-1 per norm_text), so the whole cascade is ONE scan of j with
    # three broadcast left joins and a priority when-chain — no fan-out
    # possible.  Routing per row:
    #   ABBREVIATION      -> defined_as lookup only (miss -> no row; detect
    #                        sets defined_as ONLY on ABBREVIATION rows,
    #                        kgx/stages/detect.py:342)
    #   exact/synonym hit -> 1.0 / 0.90
    #   SYSTEMATIC + exact miss + skeleton hit  -> 0.95
    #   SYSTEMATIC + exact miss + skeleton miss -> fuzzy map (may miss)
    #   anything else     -> no row (unresolved mentions are dropped)
    is_abbrev = F.col("mtype") == "ABBREVIATION"
    is_sys_unmatched = (
        ~is_abbrev & F.col("compound_id").isNull() & (F.col("mtype") == "SYSTEMATIC")
    )
    abbrev_map = terms.select(
        F.col("term_norm").alias("__ab_t"), F.col("compound_id").alias("__ab_cpd")
    )
    skel_map = skeleton_index_df(terms).select(
        F.col("term_skeleton").alias("__sk_t"), F.col("compound_id").alias("__sk_cpd")
    )
    routed = (
        j.withColumn("__skel", F.when(is_sys_unmatched, skeleton_col(F.col("norm_text"))))
        .join(F.broadcast(abbrev_map), F.col("defined_as") == F.col("__ab_t"), "left")
        .join(F.broadcast(skel_map), F.col("__skel") == F.col("__sk_t"), "left")
    )
    # fuzzy-eligible = SYSTEMATIC rows that missed both exact and skeleton
    is_fuzzy_eligible = is_sys_unmatched & F.col("__sk_cpd").isNull()

    # --- fuzzy: unified signature join -> pandas rerank ---------------------
    # One candidate channel, two signature families concatenated per string:
    # (a) minhash LSH bands (r=4 — moderate-Jaccard pairs, e.g. edit
    #     distance 2 on long names) and
    # (b) deletion-neighborhood signatures (kgx.link.symdel — deterministic
    #     for edit distance ≤1 including short names).
    # The deletion neighborhood is JVM column algebra
    # (symdel.del1_signatures), the minhash bands an Arrow-batched UDF
    # (kgx.link.minhash): ONE explode, ONE broadcast equi-join on the
    # signature value, with cheap codegen'd gates (length window + built-in
    # levenshtein) so only true near-misses reach the Arrow-batched rerank —
    # candidate volume tracks real misspellings, not band collisions
    # (measured 66M→~30k at bench scale).
    #
    # Everything runs over DISTINCT surfaces, never mention rows: a zipf
    # corpus repeats each hot misspelling tens of thousands of times, so
    # signatures, the candidate join, and the Python scoring are all
    # vocabulary-sized; mention rows only meet the accepted map in the
    # routing pass below.
    fuzzy_broadcastable = False
    scored = None
    if enable_fuzzy:
        from kgx.link.minhash import minhash_bands_udf
        from kgx.link.rerank import MAX_LEV
        from kgx.link.symdel import del1_signatures

        def with_sigs(df, text_col):
            # minhash_bands_udf is marked non-deterministic, which keeps it
            # (and the interpreted del1 transform) on THIS projection: the
            # inner explode makes Catalyst infer ``size(__sigs) > 0``, and
            # were the UDF deterministic, predicate pushdown would carry
            # that filter — UDF included — below the surfaces' DISTINCT onto
            # every fuzzy-eligible mention row of the checkpoint (and below
            # the term side's repartition onto its single coalesced
            # partition), so every string would pay the signatures twice.
            # tests/test_plan_shape.py pins the resulting plan shape.
            return (
                df.withColumn(
                    "__sigs",
                    F.concat(
                        del1_signatures(F.col(text_col)),  # JVM
                        minhash_bands_udf(F.col(text_col)),  # Arrow, batch-vectorized
                    ),
                )
                .select("*", F.explode("__sigs").alias("sig"))
                .drop("__sigs")
            )

        # names only: formulas and CAS numbers must never fuzzy-match (one
        # digit of edit distance changes the identity).  `terms` sits in a
        # single coalesced partition (right for its five tiny broadcast
        # builds) — but the term-side SIGNATURE table fans out to ~40 rows
        # per term through a Python-UDF minhash + explode, and building
        # that inside the broadcast job single-threaded measured 16-30 s of
        # serial critical path (round-7 event logs, stage s25).  Repartition
        # the vocabulary first so the signature fan-out parallelizes; the
        # broadcast then collects from those tasks.  Signatures are
        # deterministic per row, so partitioning cannot change the result.
        fuzzy_terms = (
            terms.filter(~F.col("kind").isin("formula", "identifier"))
            .select("term_norm", "compound_id")
            .repartition(
                max(2, min(16, sc.defaultParallelism))
            )  # width-adaptive: one task wave on narrow clusters
        )
        surfaces = routed.filter(is_fuzzy_eligible).select("norm_text").distinct()
        ms = with_sigs(surfaces, "norm_text")
        ts = with_sigs(fuzzy_terms, "term_norm")
        pair_cands = (
            ms.join(
                F.broadcast(ts),
                on=[
                    ms.sig == ts.sig,
                    F.abs(F.length(ms.norm_text) - F.length(ts.term_norm)) <= MAX_LEV,
                    F.levenshtein(ms.norm_text, ts.term_norm) <= MAX_LEV,
                ],
            )
            .select("norm_text", "compound_id", "term_norm")
            .dropDuplicates(["norm_text", "compound_id", "term_norm"])
        )
        # accepted pairs are bounded by the distinct-misspelling vocabulary
        # (≪ mentions), so the map side broadcasts at any realistic corpus
        # scale — but that is an ASSUMPTION about the corpus, not a law, so
        # measure it (the checkpoint makes the count a cache read) and fall
        # back to a shuffle hash join on an adversarial corpus whose
        # distinct-surface vocabulary outgrows the broadcast budget
        sc.setJobDescription("kgx stage2: fuzzy signatures + rerank")
        # top-1 per SURFACE on the vocabulary-sized accepted map — so the
        # fuzzy lookup (like every other routing branch) yields at most one
        # row per mention, ties broken by (score desc, compound_id asc)
        w_surface = Window.partitionBy("norm_text").orderBy(
            F.col("score").desc(), F.col("compound_id").asc()
        )
        scored = (
            rerank(pair_cands)
            .withColumn("__rn", F.row_number().over(w_surface))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint()
        )
        fuzzy_broadcastable = scored.count() <= fuzzy_broadcast_max_rows

    if enable_fuzzy and fuzzy_broadcastable:
        routed = routed.join(
            F.broadcast(
                scored.select(
                    F.col("norm_text").alias("__fz_t"),
                    F.col("compound_id").alias("__fz_cpd"),
                    F.col("score").alias("__fz_score"),
                )
            ),
            F.col("norm_text") == F.col("__fz_t"),
            "left",
        )
        fz_cpd, fz_score = F.col("__fz_cpd"), F.col("__fz_score")
    else:
        fz_cpd = F.lit(None).cast("long")
        fz_score = F.lit(None).cast("double")

    exact_hit = F.col("compound_id").isNotNull()
    is_syn = F.col("kind") == "synonym"
    out_cpd = (
        F.when(is_abbrev, F.col("__ab_cpd"))
        .when(exact_hit, F.col("compound_id"))
        .when(F.col("__sk_cpd").isNotNull(), F.col("__sk_cpd"))
        .when(is_fuzzy_eligible, fz_cpd)
    )
    out_score = (
        F.when(is_abbrev, F.lit(0.85))
        .when(exact_hit, F.when(is_syn, F.lit(0.90)).otherwise(F.lit(1.0)))
        .when(F.col("__sk_cpd").isNotNull(), F.lit(0.95))
        .when(is_fuzzy_eligible, fz_score)
    )
    out_method = (
        F.when(is_abbrev, F.lit("abbrev"))
        .when(exact_hit, F.when(is_syn, F.lit("synonym")).otherwise(F.lit("exact")))
        .when(F.col("__sk_cpd").isNotNull(), F.lit("systematic"))
        .when(is_fuzzy_eligible, F.lit("fuzzy"))
    )
    links = (
        routed.withColumn("__cpd", out_cpd)
        .withColumn("score", out_score)
        .withColumn("method", out_method)
        .filter(F.col("__cpd").isNotNull())
        .select(
            "mention_id",
            "file_key",
            "repo",
            "path",
            "commit",
            F.col("__cpd").alias("compound_id"),
            "score",
            "method",
        )
    )
    if enable_fuzzy and not fuzzy_broadcastable:
        # oversized fuzzy vocabulary: shuffle-join the accepted map against
        # ONLY the fuzzy-eligible rows (never the full corpus), exactly the
        # old fallback's cost shape
        fuzzy_links = (
            routed.filter(is_fuzzy_eligible)
            .select("mention_id", "file_key", "repo", "path", "commit", "norm_text")
            .join(scored, "norm_text")
            .select(
                "mention_id", "file_key", "repo", "path", "commit",
                "compound_id", "score", "method",
            )
        )
        links = links.unionByName(fuzzy_links)

    # --- one row per mention, NO corpus-scale shuffle -----------------------
    # The when-chain IS the top-1 result: routing conditions are mutually
    # exclusive per row and every lookup side is unique on its key, so each
    # mention yields at most one link.  The former global window
    # (partitionBy mention_id) shuffled every link row — 23M rows / ~700
    # core-s at the scaling3 corpus — to break ties that cannot exist.
    # Downstream consumers shuffle on their own keys anyway (stage-4 dedup,
    # metrics), so no partitioning contract is lost.
    return links.select(*_LINK_COLS)
