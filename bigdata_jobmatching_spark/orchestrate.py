"""Plain-driver orchestration of the batch chain (SURVEY §2.10).

The reference sequences parse -> skills -> salary -> dedup -> sectors
as Airflow SparkSubmit tasks (processing_spark_dag.py:159) with a
quality gate that counts output files per stage directory and fails
in strict mode when a required stage produced nothing
(processing_spark_dag.py:55-88). Parity needs the SEMANTICS, not
Airflow: a stage-function driver that lands every intermediate as
parquet (so any stage can be re-run or inspected independently, like
the reference's lake layout) and the same count-based gate, reading
only file metadata like the reference's: every landed count (gate, WAP
row floors, match_lakes) comes from parquet footers, not a re-read.

At scale the stage landings are the checkpoint/restart story: each
stage is a pure function of the previous stage's parquet, so a failed
run resumes from the last good directory instead of recomputing the
chain.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans import domain_pipeline as P
from .sources import versioned as V
from .sources.io import write_stage
from .sources.manifest import audit_then_publish, committed, landed

# stage name -> required in the quality gate (the reference marks only
# the parse landing as required; enrichments are optional directories)
STAGES: tuple[tuple[str, bool], ...] = (
    ("jobs_parsed", True),
    ("skills_enriched", False),
    ("salaries_enriched", False),
    ("deduplicated", False),
    ("sectors_enriched", False),
)
WAREHOUSE_TABLES = ("fact_offres", "dim_entreprise", "dim_localisation", "dim_competence")


def quality_check(spark: SparkSession, out_dir: str, strict: bool = True) -> dict:
    """File+row counts per stage directory, read from the parquet
    footers (metadata only, like the reference's gate: no Spark job);
    strict mode raises when a required stage is empty
    (processing_spark_dag.py:55-88 semantics, with row counts added —
    file existence alone passes on an empty parquet write). Versioned
    directories (a ``_CURRENT`` pointer) are counted at their CURRENT
    version only — orphaned staged versions (failed WAP audits) don't
    inflate the stats."""
    stats: dict[str, dict] = {}
    problems: list[str] = []
    for name, required in STAGES + tuple((f"warehouse/{t}", True) for t in WAREHOUSE_TABLES):
        d = os.path.join(out_dir, name)
        v = V.current_version(d)
        files, rows = landed(d if v is None else os.path.join(d, f"v{v:05d}"))
        stats[name] = {"required": required, "files": files, "rows": rows}
        if required and rows == 0:
            problems.append(name)
    if strict and problems:
        raise ValueError(f"quality gate: no output for required stages {problems}")
    return stats


def _row_floor_audit(root: str, min_rows: int):
    """WAP veto: a table that staged fewer than ``min_rows`` rows must
    not publish (the reference's file-count check upgraded to a real
    gate on the staged bytes). Rows come from the footers of the
    staged version, the newest under ``root`` until it publishes."""
    def audit(staged: DataFrame) -> None:
        _, n = landed(os.path.join(root, f"v{V.list_versions(root)[-1]:05d}"))
        if n < min_rows:
            raise ValueError(f"WAP veto for {os.path.basename(root)}: "
                             f"{n} rows < floor {min_rows}")
    return audit


def _fact_fk_audit(spark: SparkSession, wh_dir: str):
    """WAP veto on the staged fact: every FK value must exist in the
    just-published dim versions (the fk_integrity_audit pre-flight,
    run against the exact bytes readers would see). Dims are
    broadcast-joined — at 100 TB the fact never shuffles for this."""
    def audit(staged_fact: DataFrame) -> None:
        dims = {
            t: V.read_version(spark, f"{wh_dir}/{t}")
            for t in ("dim_entreprise", "dim_localisation", "dim_competence")
        }
        edges = (
            ("entreprise_id",
             dims["dim_entreprise"].select("entreprise_id"),
             F.col("entreprise_id").alias("k")),
            ("localisation_id",
             dims["dim_localisation"].select("localisation_id"),
             F.col("localisation_id").alias("k")),
            ("competences_ids",
             dims["dim_competence"].select("competence_id"),
             F.explode("competences_ids").alias("k")),
        )
        for col, dim, child_key in edges:
            parent = dim.toDF("k").distinct()
            orphans = (
                staged_fact.select(child_key)
                .filter(F.col("k").isNotNull())
                .distinct()
                .join(F.broadcast(parent), "k", "left_anti")
                .count()
            )
            if orphans:
                raise ValueError(
                    f"WAP veto for fact_offres: {orphans} orphan "
                    f"{col} key(s) missing from the dimension")
    return audit


def publish_warehouse_wap(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    wh_dir: str,
    min_fact_rows: int = 1,
) -> dict[str, int]:
    """Publish the star schema as VERSIONED warehouse tables through
    write-audit-publish (round-9 verdict task #7): each table lands as
    an unpublished staged version, its audits run against the staged
    bytes, and only then does the pointer swap — a poisoned batch
    leaves the previous version current and the staged dir orphaned
    for forensics.

    Vetoes: a row-count floor on every table (dims >= 1 row, fact >=
    ``min_fact_rows``) and the FK-integrity pre-flight on the fact
    (every entreprise/localisation/competence key resolves against
    the just-published dim versions). Publish order is dims-then-fact
    so the fact's FK audit sees the dim bytes it will be joined with;
    a fact veto leaves the new dims published, which is safe — ids
    are deterministic functions of the names, so the previous fact
    version still resolves against them.

    The fact keeps the warehouse layout (partition by publication
    date + cluster-key sortWithinPartitions, create_tables.sql:91-92
    parity) and every table carries a file-stats manifest."""
    versions: dict[str, int] = {}
    dim_pks = {
        "dim_entreprise": "entreprise_id",
        "dim_localisation": "localisation_id",
        "dim_competence": "competence_id",
    }
    for name, pk in dim_pks.items():
        versions[name] = audit_then_publish(
            tables[name], f"{wh_dir}/{name}",
            audits=[_row_floor_audit(f"{wh_dir}/{name}", 1)],
            stats_cols=(pk,),
        )
    fact = tables["fact_offres"].sortWithinPartitions(
        "entreprise_id", "localisation_id", "secteur_id")
    versions["fact_offres"] = audit_then_publish(
        fact, f"{wh_dir}/fact_offres",
        audits=[
            _row_floor_audit(f"{wh_dir}/fact_offres", min_fact_rows),
            _fact_fk_audit(spark, wh_dir),
        ],
        stats_cols=("entreprise_id",),
        partition_by=("date_publication",),
    )
    return versions


def run_staged_pipeline(
    spark: SparkSession,
    raw_offers: DataFrame,
    out_dir: str,
    strict: bool = True,
    resume: bool = False,
) -> dict:
    """The reference's chain with per-stage parquet landings and the
    quality gate; returns the gate stats. ``resume=True`` skips stages
    whose _SUCCESS marker already committed (same restart discipline
    as the corpus chain — every stage is deterministic, so a resumed
    run cannot fork)."""
    def skip(name: str) -> bool:
        return resume and committed(f"{out_dir}/{name}")

    if not skip("jobs_parsed"):
        write_stage(P.normalize_offers(raw_offers),
                    f"{out_dir}/jobs_parsed", ("source",))

    if not skip("skills_enriched"):
        with_skills = P.extract_skills(
            spark, spark.read.parquet(f"{out_dir}/jobs_parsed"))
        write_stage(with_skills, f"{out_dir}/skills_enriched", ("source",))

    if not skip("salaries_enriched"):
        with_salary = P.enrich_salary(
            spark.read.parquet(f"{out_dir}/skills_enriched"))
        write_stage(with_salary, f"{out_dir}/salaries_enriched", ("source",))

    if not skip("deduplicated"):
        deduped = P.dedup_offers(
            spark.read.parquet(f"{out_dir}/salaries_enriched"))
        write_stage(deduped, f"{out_dir}/deduplicated", ("source",))

    if not skip("sectors_enriched"):
        with_sectors = P.enrich_sectors(
            spark, spark.read.parquet(f"{out_dir}/deduplicated"))
        write_stage(with_sectors, f"{out_dir}/sectors_enriched", ("source",))

    wh = P.build_warehouse(spark, spark.read.parquet(f"{out_dir}/sectors_enriched"))
    publish_warehouse_wap(spark, wh, f"{out_dir}/warehouse")

    return quality_check(spark, out_dir, strict=strict)


def adapt_offer_lake(offers: DataFrame) -> DataFrame:
    """Enriched-offer-lake rows (sectors_enriched schema) -> the
    matching operator's offer contract: surrogate LOC id from the raw
    location string, experience_level under the operator's column
    name. Shared by :func:`match_lakes` and the oracled
    ``lake_match_stats`` gate query so the gate exercises the real
    lake-level wiring."""
    from .functions import ids as I

    return offers.select(
        F.col("offer_id").alias("job_id"),
        "skills",
        I.localisation_id(F.col("location")).alias("localisation_id"),
        "salaire_min", "salaire_max",
        F.col("experience_level").alias("niveau_experience"),
    )


def adapt_cv_lake(cvs: DataFrame) -> DataFrame:
    """Normalized-CV-lake rows (normalize_cvs schema) -> the matching
    operator's CV contract (already matching-shaped; this is the
    projection)."""
    return cvs.select(
        "cv_id", "competences", "localisation_souhaitee_id",
        "salaire_souhaite", "annees_experience",
    )


def match_lakes(
    spark: SparkSession,
    offers_dir: str,
    cvs_dir: str,
    out_dir: str,
    top_k: int = 20,
    max_skill_df_frac: float | None = 0.5,
    matcher: str = "prefiltered",
) -> dict:
    """The end-to-end matching landing the reference DECLARED but
    never wired (matching_dag.py:50-57 + the missing consume_cvs):
    read the enriched OFFER lake (run_staged_pipeline's
    sectors_enriched stage) and the normalized CV lake
    (streaming.ingest.stream_cvs_to_lake output), run the
    inverted-index matching operator, and land agg_matching_scores +
    the per-candidate top-k as parquet stages.

    Column adaptation happens in :func:`adapt_offer_lake` /
    :func:`adapt_cv_lake`, not in the operator. The
    document-frequency cap is the skew lever — fractional, so the
    same 0.5 means the same at any scale.

    ``matcher`` defaults to ``"prefiltered"`` (round-9 verdict task
    #2): rare-skill candidate pruning with EXACT scoring of survivors
    — 58x cheaper at sf1 than the capped variant, and pruning touches
    candidate recall only, never a survivor's score. ``"capped"``
    opts back into the older semantics where above-cap skills are
    also dropped from survivors' ``n_shared``."""
    from .operators import matching as M

    offers = adapt_offer_lake(spark.read.parquet(offers_dir))
    cvs = adapt_cv_lake(spark.read.parquet(cvs_dir))
    if matcher == "prefiltered":
        scores = M.match_offers_cvs_prefiltered(
            offers, cvs, max_skill_df_frac=max_skill_df_frac
        )
    elif matcher == "capped":
        scores = M.match_offers_cvs(
            offers, cvs, max_skill_df_frac=max_skill_df_frac
        )
    else:
        raise ValueError(f"unknown matcher {matcher!r}")
    write_stage(scores, f"{out_dir}/matching_scores", ())
    top = M.top_matches_per_candidate(
        spark.read.parquet(f"{out_dir}/matching_scores"), k=top_k
    )
    write_stage(top, f"{out_dir}/top_matches", ())
    return {t: landed(f"{out_dir}/{t}")[1] for t in ("matching_scores", "top_matches")}


def main(argv: list[str] | None = None) -> int:
    import argparse

    from .schemas import JOB_RAW_SCHEMA
    from .session import get_spark
    from .sources.io import read_json_records

    ap = argparse.ArgumentParser(description="staged batch pipeline driver")
    ap.add_argument("input", help="JSON-lines raw offers path")
    ap.add_argument("out_dir", help="stage/warehouse output directory")
    ap.add_argument("--no-strict", action="store_true")
    args = ap.parse_args(argv)

    spark = get_spark("staged-pipeline")
    raw = read_json_records(spark, args.input, JOB_RAW_SCHEMA)
    stats = run_staged_pipeline(spark, raw, args.out_dir, strict=not args.no_strict)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
