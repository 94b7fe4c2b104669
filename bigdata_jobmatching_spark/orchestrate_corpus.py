"""Staged training-corpus pipeline: the end-to-end driver that turns a
raw document lake into packed, split, deduplicated training data.

The domain chain (orchestrate.py) mirrors the reference's job-offer
DAG; this is the same staged-landing discipline applied to the
LLM-data operators this engine adds: quality filter -> exact dedup ->
near-dup dedup (MinHash keep-best) -> PII scrub -> train/val split ->
sequence packing -> partitioned corpus landing, with a strict
count-monotonicity gate (every filter stage can only shrink the
corpus, and nothing required may be empty).

Each stage lands as parquet, so a 100 TB run resumes from the last
good directory; every stage is one narrow pass or one bounded
shuffle (the dedup joins are banded — see operators/dedup.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as X
from .operators import dedup as D
from .sources.io import write_stage_observed
from .sources.manifest import committed, landed

_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+?[0-9]{2,3}([ .-][0-9]{2,4}){3,4}"

_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2_147_483_648

CORPUS_STAGES: tuple[str, ...] = (
    "filtered", "exact_deduped", "near_deduped", "substring_deduped",
    "scrubbed", "packed",
)


def quality_filter(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    return docs.filter(X.quality_score(F.col("text")) >= min_quality)


def exact_dedup_docs(docs: DataFrame) -> DataFrame:
    return D.exact_dedup(
        docs,
        key=X.fingerprint(F.col("text")),
        order_cols=[F.length("text").desc(), F.col("doc_id")],
        id_col="doc_id",
    )


def near_dedup_docs(docs: DataFrame, jaccard_threshold: float = 0.6) -> DataFrame:
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", jaccard_threshold=jaccard_threshold
    )
    return D.keep_best(
        docs, pairs, "doc_id",
        order_cols=[F.length("text").desc(), F.col("doc_id")],
    )


def substring_dedup_docs(
    docs: DataFrame, k: int = 8, max_dup_milli: int = 500,
    family_grain: bool = False,
) -> DataFrame:
    """Drop documents whose duplicated-window fraction exceeds
    max_dup_milli/1000 — the document-level form of exact-substring
    dedup (Lee et al.): a doc made mostly of k-token windows that
    also appear in other docs is boilerplate/template mass. Integer
    cross-multiplication (no float threshold); docs shorter than k
    tokens carry no window stats and always survive.

    ``family_grain=False`` (the historical form) drops EVERY heavy
    doc — which, on a family of N near-identical docs whose windows
    duplicate each other, removes the whole family and its content
    with it: the same drop-both defect class the reference has in
    deduplicate.py:287-306 (measured at sf1: 2x1,860 docs gone).
    ``family_grain=True`` (r10 verdict task #4) clusters the heavy
    docs into shared-window families (operators/dedup.
    substring_dup_families) and keeps ONE representative per family
    — longest text, min id on ties, the same keep-best rule as the
    near-dup stage — so template mass still collapses but its
    content survives once; this is the form the fenced corpus chain
    composes with."""
    if not family_grain:
        stats = D.substring_dup_stats(docs, k=k)
        heavy = stats.filter(
            F.col("n_dup_windows") * 1000
            > F.lit(max_dup_milli) * F.col("n_windows")
        ).select("doc_id")
        return docs.join(heavy, "doc_id", "left_anti")
    # Family grain consumes the window stream twice (heavy rule +
    # family graph): pay the per-window md5 map cost once (the
    # census queries' single-materialization cut).
    wins = D.substring_windows(docs, k=k).localCheckpoint(eager=True)
    stats = D.dup_stats_over(wins)
    heavy = stats.filter(
        F.col("n_dup_windows") * 1000 > F.lit(max_dup_milli) * F.col("n_windows")
    ).select("doc_id")
    fam = D.families_over(wins, heavy)
    w = Window.partitionBy("grp").orderBy(
        F.length("text").desc(), F.col("doc_id"))
    drops = (
        docs.join(fam, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select("doc_id")
    )
    return docs.join(drops, "doc_id", "left_anti")


def fit_unigram_lm(docs: DataFrame) -> DataFrame:
    """Corpus unigram LM — (tok, cnt) counts over the tokenized
    corpus. Split out of surprisal_band_filter (round-10) so the
    STREAMING face can fit the LM once on a reference corpus and
    score every micro-batch against the frozen model, the way a
    production CCNet stage runs (the LM is a training-time artifact,
    not re-fit per batch)."""
    return (
        docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    )


def surprisal_band_filter(
    docs: DataFrame,
    lo_milli_bits: int = 2000,
    hi_milli_bits: int = 15000,
    lm: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style LM quality band (round-9): fit a unigram LM on the
    corpus itself, score each doc by mean token surprisal in floored
    bits (the doc_unigram_surprisal mechanics — pure-integer
    floor(log2) via bin(), no float log), and keep the docs whose
    mean lands inside [lo, hi] milli-bits: the low tail is
    boilerplate/repetition, the high tail rare-token gibberish. The
    band test is integer cross-multiplication (sum*1000 vs
    bound*count) — no ratio ever computed. Empty docs carry no
    signal and pass through.

    ``lm``: a precomputed :func:`fit_unigram_lm` frame. Default None
    self-fits on ``docs`` (the batch stage). A FROZEN lm is the
    streaming contract; tokens absent from a frozen lm drop out of a
    doc's score (they carry no model probability), which cannot
    happen in the self-fit path."""
    toks = docs.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("tok"))
    if lm is None:
        lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = lm.agg(F.sum("cnt").cast("long").alias("n_total"))
    scored = (
        toks.join(F.broadcast(lm), "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (F.length(F.bin(F.expr("n_total div cnt"))) - 1)
            .cast("long").alias("sbits"),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_toks"),
             F.sum("sbits").alias("sum_bits"))
    )
    keep = scored.filter(
        (F.col("sum_bits") * 1000 >= F.lit(lo_milli_bits) * F.col("n_toks"))
        & (F.col("sum_bits") * 1000 <= F.lit(hi_milli_bits) * F.col("n_toks"))
    ).select("doc_id")
    with_toks = docs.join(keep, "doc_id", "semi")
    empty = docs.join(scored.select("doc_id"), "doc_id", "anti")
    return with_toks.unionByName(empty)


def semantic_dedup_docs(docs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """SemDeDup stage: drop near-duplicate MEANING the token-level
    stages can't see. Pairs come from the scale-adaptive blocked
    exact-integer cosine operator (semantic_dedup_pairs, whose
    mechanics the semantic_dedup_stats gate query value-oracles),
    which since round 10 applies the paper's keep-farthest-from-
    centroid representative rule itself: each tau-close pair names
    its ``drop_id`` (the member nearer its assigned seed, larger id
    on ties), so the stage is one distinct + anti-join. Documents
    without an embedding pass through untouched. Seeds derive from
    the ids actually present in the surviving corpus (round-9 advice
    #2: no silent no-op when low ids were deduped upstream)."""
    vecs = embeddings.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
    )
    pairs = D.semantic_dedup_pairs(vecs, "vec_id", "embedding")
    drops = pairs.select(F.col("drop_id").alias("doc_id")).distinct()
    return docs.join(drops, "doc_id", "left_anti")


def scrub_pii(docs: DataFrame) -> DataFrame:
    clean = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return docs.withColumn("text", clean)


def split_and_pack(
    docs: DataFrame,
    bin_tokens: int = 2048,
    val_pct: int = 10,
    fence_pairs: DataFrame | None = None,
) -> DataFrame:
    """Train/val carve + FFD-ish sequential packing. ``fence_pairs``
    (optional ``doc_id_a``/``doc_id_b`` near-dup pairs) switches the
    carve to duplicate-CLUSTER grain: the hash is taken over the
    pair graph's connected-component label instead of doc_id, so
    near-duplicates can never straddle the train/val fence — the
    keep-near-dups configuration (fence instead of drop) whose
    leakage argument neardup_leakfree_split audits externally.
    Default (None) is byte-identical to the historical doc-grain
    carve."""
    if fence_pairs is None:
        keyed = docs.withColumn("__carve", F.col("doc_id"))
    else:
        from .operators.graph import connected_components

        comp = connected_components(fence_pairs.select(
            F.col("doc_id_a").alias("m"), F.col("doc_id_b").alias("n")))
        keyed = (
            docs.join(comp.withColumnRenamed("node", "doc_id"),
                      "doc_id", "left")
            .withColumn("__carve",
                        F.coalesce("component", F.col("doc_id")))
            .drop("component")
        )
    h = (F.col("__carve") * _LCG_A + _LCG_C) % _LCG_M
    tagged = keyed.withColumn(
        "split",
        F.when(h < _LCG_M * val_pct // 100, F.lit("val")).otherwise(F.lit("train")),
    ).drop("__carve").withColumn(
        "n_tokens", X.token_count(F.col("text")).cast("long"))
    w = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return tagged.withColumn(
        "bin_idx", F.floor(start / bin_tokens).cast("long")
    )


def corpus_gate(
    spark: SparkSession,
    out_dir: str,
    strict: bool = True,
    observed: dict[str, dict] | None = None,
    stages: tuple[str, ...] = CORPUS_STAGES,
) -> dict:
    """Row counts per stage; strict mode enforces that every stage is
    non-empty AND that the filter/dedup stages are monotone
    non-increasing (a dedup that GREW the corpus is a bug). Landed
    counts come from parquet footers: the gate runs no Spark job.

    ``observed`` carries the in-flight ``df.observe()`` metrics from
    the write pass; the gate cross-checks them against the landed
    footer counts, so a partial/lost write (observed N, landed < N)
    fails loudly instead of silently shipping a truncated corpus."""
    stats: dict[str, dict] = {}
    problems: list[str] = []
    rows_seq: list[int] = []
    for name in stages:
        files, rows = landed(os.path.join(out_dir, name))
        stats[name] = {"files": files, "rows": rows}
        if observed and name in observed:
            obs_rows = observed[name]["n_rows"]
            stats[name]["observed_rows"] = obs_rows
            if obs_rows != rows:
                problems.append(
                    f"{name} landed {rows} rows but the write pass "
                    f"observed {obs_rows}"
                )
        if rows == 0:
            problems.append(f"{name} empty")
        rows_seq.append(rows)
    for prev, cur, name in zip(rows_seq, rows_seq[1:], stages[1:]):
        if name in ("surprisal_filtered", "exact_deduped", "near_deduped",
                    "substring_deduped", "semantic_deduped") and cur > prev:
            problems.append(f"{name} grew the corpus ({prev} -> {cur})")
    if strict and problems:
        raise ValueError(f"corpus gate: {problems}")
    return stats


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    strict: bool = True,
    min_quality: float = 0.5,
    resume: bool = False,
    embeddings: DataFrame | None = None,
    surprisal_band: tuple[int, int] | None = None,
    fence_near_dups: bool = False,
) -> dict:
    """Run the staged chain. With ``resume=True``, stages whose
    directory already committed (_SUCCESS present) are skipped and
    later stages read the landed parquet — the restart discipline a
    multi-day 100 TB run needs (every stage is deterministic, so a
    resumed run cannot fork from the first attempt; proven by the
    idempotency test). Skipped stages re-count their landed rows for
    the gate instead of observed in-flight metrics.

    ``fence_near_dups=True`` selects the FENCE-INSTEAD-OF-DROP
    configuration: the near-dup keep-best stage is skipped, and the
    substring stage runs at FAMILY grain (r10 verdict task #4 —
    keep one representative per shared-window family) instead of
    being skipped outright: the old drop-all form removed every
    member of a duplicated-window family and would silently delete
    the same mass the fence is meant to keep (measured at sf1:
    2x1,860 docs, exactly the docs the skipped near-dup stage would
    have paired), while the family form collapses template mass to
    one surviving copy whose content the fence can still place. The
    packed stage computes the MinHash-LSH pair graph over the
    scrubbed corpus and carves train/val at duplicate-CLUSTER grain
    (split_and_pack's fence_pairs), so kept near-duplicates can
    never straddle the eval fence — the leakage argument
    neardup_leakfree_split audits externally."""
    obs: dict[str, dict] = {}

    def stage(name: str, build, partition_by: tuple[str, ...], metrics=None):
        if resume and committed(f"{out_dir}/{name}"):
            return  # gate recounts landed rows; no observed entry
        obs[name] = write_stage_observed(
            build(), f"{out_dir}/{name}", partition_by, metrics=metrics
        )

    stage("filtered", lambda: quality_filter(docs, min_quality), ("source",))
    dedup_input = "filtered"
    if surprisal_band is not None:
        lo, hi = surprisal_band
        stage(
            "surprisal_filtered",
            lambda: surprisal_band_filter(
                spark.read.parquet(f"{out_dir}/filtered"), lo, hi),
            ("source",),
        )
        dedup_input = "surprisal_filtered"
    stage(
        "exact_deduped",
        lambda: exact_dedup_docs(
            spark.read.parquet(f"{out_dir}/{dedup_input}")),
        ("source",),
    )
    if not fence_near_dups:
        stage(
            "near_deduped",
            lambda: near_dedup_docs(spark.read.parquet(f"{out_dir}/exact_deduped")),
            ("source",),
        )
        stage(
            "substring_deduped",
            lambda: substring_dedup_docs(spark.read.parquet(f"{out_dir}/near_deduped")),
            ("source",),
        )
    else:
        stage(
            "substring_deduped",
            lambda: substring_dedup_docs(
                spark.read.parquet(f"{out_dir}/exact_deduped"),
                family_grain=True),
            ("source",),
        )
    scrub_input = "substring_deduped"
    if embeddings is not None:
        sem_input = scrub_input
        stage(
            "semantic_deduped",
            lambda: semantic_dedup_docs(
                spark.read.parquet(f"{out_dir}/{sem_input}"),
                embeddings,
            ),
            ("source",),
        )
        scrub_input = "semantic_deduped"
    stage(
        "scrubbed",
        lambda: scrub_pii(spark.read.parquet(f"{out_dir}/{scrub_input}")),
        ("source",),
        metrics={
            # free in-flight PII audit: residual raw emails after the
            # scrub must be zero
            "residual_emails": F.sum(
                F.when(F.col("text").rlike(_EMAIL_RE), 1).otherwise(0)
            ),
        },
    )
    def _build_packed() -> DataFrame:
        scrubbed = spark.read.parquet(f"{out_dir}/scrubbed")
        fence = None
        if fence_near_dups:
            fence = D.minhash_lsh_pairs(
                scrubbed, "doc_id", "text", jaccard_threshold=0.6,
            ).select(F.col("id_a").alias("doc_id_a"),
                     F.col("id_b").alias("doc_id_b"))
        return split_and_pack(scrubbed, fence_pairs=fence)

    stage(
        "packed",
        _build_packed,
        ("split", "source"),
        metrics={"total_tokens": F.sum("n_tokens")},
    )

    stages = CORPUS_STAGES
    if fence_near_dups:
        # family-grain substring stays ON; only the near-dup drop
        # stage is replaced by the fence (r10 verdict task #4)
        stages = tuple(x for x in stages if x != "near_deduped")
    if surprisal_band is not None:
        i = stages.index("filtered") + 1
        stages = stages[:i] + ("surprisal_filtered",) + stages[i:]
    if embeddings is not None:
        anchor = ("substring_deduped" if "substring_deduped" in stages
                  else "exact_deduped")
        i = stages.index(anchor) + 1
        stages = stages[:i] + ("semantic_deduped",) + stages[i:]
    stats = corpus_gate(spark, out_dir, strict=strict, observed=obs,
                        stages=stages)
    if strict and obs.get("scrubbed", {}).get("residual_emails"):
        raise ValueError(
            f"corpus gate: {obs['scrubbed']['residual_emails']} docs "
            "still match the email pattern after the scrub"
        )
    if "packed" in obs:
        stats["packed"]["total_tokens"] = obs["packed"]["total_tokens"]
    return stats


def main(argv: list[str] | None = None) -> int:
    import argparse

    from .session import get_spark
    from .sources.io import load_table

    ap = argparse.ArgumentParser(description="staged corpus pipeline driver")
    ap.add_argument("sf_dir", help="test-lake directory with documents.parquet")
    ap.add_argument("out_dir", help="stage output directory")
    ap.add_argument("--no-strict", action="store_true")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages whose _SUCCESS already committed")
    ap.add_argument("--fence-near-dups", action="store_true",
                    help="keep near-duplicates (skip the near-dup drop "
                         "stage, run the substring stage at family "
                         "grain) and carve train/val at "
                         "duplicate-cluster grain instead")
    args = ap.parse_args(argv)

    spark = get_spark("corpus-pipeline")
    docs = load_table(spark, args.sf_dir, "documents")
    stats = run_corpus_pipeline(
        spark, docs, args.out_dir,
        strict=not args.no_strict, resume=args.resume,
        fence_near_dups=args.fence_near_dups,
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
