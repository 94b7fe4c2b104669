"""End-to-end domain pipeline on deterministic fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_jobmatching_spark.plans import domain_pipeline as P
from bigdata_jobmatching_spark.schemas import JOB_RAW_SCHEMA
from bigdata_jobmatching_spark.sources.io import read_blobs

from tests.fixtures import make_raw_offers, write_blobs


@pytest.fixture(scope="module")
def raw(spark):
    return spark.createDataFrame(make_raw_offers(), JOB_RAW_SCHEMA)


@pytest.fixture(scope="module")
def result(spark, raw):
    return P.run_pipeline(spark, raw)


def test_normalize_cleans_and_defaults(spark, raw):
    n = P.normalize_offers(raw)
    rows = {r.scraper_job_id: r for r in n.collect()}
    assert all(r.offer_id is not None and len(r.offer_id) == 16 for r in rows.values())
    # whitespace squeezed in noisy titles
    noisy = [r for r in rows.values() if "(urgent)" in r.title]
    assert noisy and all("  " not in r.title for r in noisy)
    # null company/contract defaulted
    assert any(r.company == "Entreprise confidentielle" for r in rows.values())
    assert any(r.contract_type == "Non spécifié" for r in rows.values())
    assert all(r.scraped_date is not None for r in rows.values())


def test_skills_catalog_and_declared_union(spark, raw):
    n = P.extract_skills(spark, P.normalize_offers(raw))
    rows = n.collect()
    # description mentions python+sql -> extracted even when declared list differs
    with_py = [r for r in rows if "python" in (r.skills or [])]
    assert with_py
    # declared skills lowercased and merged
    spark_rows = [r for r in rows if "spark" in (r.skills or [])]
    assert spark_rows
    # arrays sorted (determinism contract)
    assert all(r.skills == sorted(r.skills) for r in rows if r.skills)


def test_salary_enrichment(spark, raw):
    n = P.enrich_salary(P.extract_skills(spark, P.normalize_offers(raw)))
    rows = n.collect()
    # structured amount wins where present
    structured = [r for r in rows if r.salary_amount is not None]
    assert structured and all(r.salaire_min == float(r.salary_amount) for r in structured)
    # text-parsed ranges present for description salaries
    parsed = [r for r in rows if r.salary_amount is None and r.salaire_min is not None]
    assert parsed and all(r.salaire_max >= r.salaire_min for r in parsed)


def test_salary_inference_third_tier(spark):
    # Offers with no structured amount and no parseable text fall back
    # to the context grid (extract_salary.py:180-250): 'senior' title in
    # Abidjan on CDD -> int(int(500000*1.2)*0.9) = 540000; a title with
    # no grid keyword stays null with confidence 0 / source 'none'.
    from bigdata_jobmatching_spark.functions import salary as SAL

    df = spark.createDataFrame(
        [("Senior développeur web", "Abidjan, Plateau", "CDD 6 mois"),
         ("Data Scientist junior", "Bouaké", "CDI"),
         ("Comptable", "Abidjan", "CDI")],
        "title string, location string, contract_type string",
    )
    rows = df.select(
        SAL.infer_salary_range(
            F.col("title"), F.col("location"), F.col("contract_type")
        ).alias("s")
    ).select("s.*").collect()
    assert (rows[0].min_fcfa, rows[0].max_fcfa) == (540000.0, 1620000.0)
    assert rows[0].confidence == 0.3 and rows[0].source == "inferred"
    # 'junior' (first grid key) outranks 'data scientist'
    assert (rows[1].min_fcfa, rows[1].max_fcfa) == (150000.0, 400000.0)
    assert rows[2].min_fcfa is None and rows[2].confidence == 0.0 and rows[2].source == "none"


def test_salary_inference_wired_into_pipeline(spark, raw):
    n = P.enrich_salary(P.extract_skills(spark, P.normalize_offers(raw)))
    rows = n.collect()
    assert "salary_source" in n.columns
    # every row lands in exactly one tier
    assert {r.salary_source for r in rows} <= {"structured", "parsed", "inferred", "none"}
    # the salary-less linkedin dup ("Ingénieur DevOps Cloud") must hit
    # the grid via its 'devops' title keyword
    inferred = [r for r in rows if r.salary_source == "inferred"]
    assert inferred
    for r in inferred:
        assert r.salary_amount is None and r.salaire_min is not None
        assert r.salary_confidence == 0.3


def test_dedup_keeps_best_of_planted_pair(result):
    offers = result["offers_enriched"]
    dup = offers.filter(F.col("title") == "Ingénieur DevOps Cloud").collect()
    assert len(dup) == 1
    # the complete educarriere record must win (completeness + priority)
    assert dup[0].source == "educarriere_ci"


def test_warehouse_star_schema(spark, result):
    fact = result["fact_offres"]
    dim_e = result["dim_entreprise"]
    # deterministic ids: every fact entreprise_id resolves in the dim
    missing = fact.join(dim_e, "entreprise_id", "left_anti").count()
    assert missing == 0
    # ids follow the ENT_ scheme
    assert all(r.entreprise_id.startswith("ENT_") for r in dim_e.collect())
    # temp views registered for spark.sql analytics
    top = spark.sql("""
        SELECT s.skill, COUNT(*) AS n FROM (
          SELECT explode(skills) AS skill FROM fact_offres
        ) s GROUP BY s.skill ORDER BY n DESC, s.skill LIMIT 5
    """).collect()
    assert top and top[0].n >= 1


def test_blob_parse_wholefile(spark, tmp_path):
    d = write_blobs(str(tmp_path))
    blobs = read_blobs(spark, d + "/*.html")
    assert blobs.count() == 10  # one row per FILE (wholetext fix)
    parsed = P.parse_html_fields(P.split_blobs(blobs))
    rows = {r.job_id: r for r in parsed.collect()}
    assert len(rows) == 10
    full = [r for r in rows.values() if r.company is not None]
    fallback = [r for r in rows.values() if r.company is None]
    assert full and fallback
    # CSS-hook path extracts all fields -> quality 1.0; fallback page
    # still yields title + FCFA salary via fallback regexes
    assert all(r.parsing_quality_score == 1.0 for r in full)
    assert all(r.title is not None and r.salary_text and "FCFA" in r.salary_text for r in fallback)
    assert all(r.source in {"educarriere_ci", "macarrierepro_net", "goafricaonline", "linkedin_ci"} for r in rows.values())


def test_write_warehouse_partitioned(spark, result, tmp_path):
    P.write_warehouse(
        {k: v for k, v in result.items() if k != "offers_enriched"},
        str(tmp_path / "wh"),
    )
    fact = spark.read.parquet(str(tmp_path / "wh" / "fact_offres"))
    assert fact.count() == result["fact_offres"].count()
    parts = {p.name for p in (tmp_path / "wh" / "fact_offres").iterdir() if p.is_dir()}
    assert any(p.startswith("date_publication=") for p in parts)
    # date filter prunes partitions at the scan
    one_day = fact.filter(F.col("date_publication") == "2024-03-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    dim = spark.read.parquet(str(tmp_path / "wh" / "dim_competence"))
    assert dim.count() == result["dim_competence"].count()


def test_html_cascade_adversarial_markup(spark):
    # Real-world markup the old fixture-hook regexes missed: attribute
    # reorder, single quotes, multi-class attributes, nested inline
    # tags, whitespace around '=', and missing hooks falling through
    # the reference's selector cascade (parse_jobs.py:41-260).
    adversarial = """<html><head><title>Fallback Title Page</title></head><body>
    <h1 data-x="1" class = 'headline job-title featured'>
      Ingénieur <span>Data</span> Senior
    </h1>
    <div id="c" class="inner company-name">Orange <strong>CI</strong></div>
    <section class='job-description main'>
      Nous construisons des plateformes de données distribuées pour nos clients
      et cherchons un profil confirmé en ingénierie logicielle.
    </section>
    <p class="qualifications">5 ans d'expérience en python</p>
    <em class="city">Yamoussoukro</em>
    <b class="remuneration">600 000 FCFA par mois</b>
    </body></html>"""
    no_hooks = """<html><head><title>Offre courte</title></head><body>
    <p>Poste base a Korhogo. Salaire : 250 000 FCFA net.</p></body></html>"""
    df = spark.createDataFrame(
        [("{}", adversarial), ("{}", no_hooks)], "metadata string, html string"
    )
    out = P.parse_html_fields(df).collect()
    a, b = out[0], out[1]
    # nested tags stripped, whitespace squeezed
    assert a.title == "Ingénieur Data Senior"
    assert a.company == "Orange CI"
    assert a.description.startswith("Nous construisons des plateformes")
    assert a.requirements == "5 ans d'expérience en python"
    # .city and .remuneration are deeper cascade steps
    assert a.location == "Yamoussoukro"
    assert a.salary_text == "600 000 FCFA par mois"
    assert a.parsing_quality_score == 1.0
    # no hooks at all: <title> fallback, city-list fallback, FCFA regex
    assert b.title == "Offre courte"
    assert b.location == "Korhogo"
    assert b.salary_text is not None and "250" in b.salary_text


def test_html_cascade_entities_multiline_unclosed(spark):
    # Second hostile round (bs4-grade tolerance, parse_jobs.py:41-230):
    # entity escapes (named + decimal), attributes and values spanning
    # lines, decoy class names that embed the hook as a substring,
    # unclosed INNER tags, and an unclosed hook element that must fall
    # through the cascade instead of swallowing the rest of the page.
    entities = """<html><body>
    <h1
       class="job-title">Charg&eacute; R&amp;D
       &#233;quipe Donn&#233;es</h1>
    <div class="company-name">AT&amp;T C&ocirc;te d'Ivoire</div>
    <div class="job-description">Notre &eacute;quipe d&#233;veloppe des outils
    d'analyse pour la r&eacute;gion et recherche un profil autonome, rigoureux
    et curieux pour accompagner sa croissance.</div>
    <p class="requirements">Ma&icirc;trise de l'ing&eacute;nierie &amp; du cloud</p>
    <span class="location">Abidjan &#8212; Plateau</span>
    <b class="salary">500&nbsp;000 FCFA</b>
    </body></html>"""
    decoy_unclosed = """<html><head><title>Analyste Supply Chain</title></head><body>
    <h1 class="job-title-archive">Vieille annonce</h1>
    <div class="job-description">Premier paragraphe sans fermeture de p<p>
    suite du texte qui continue assez longtemps pour la validation</div>
    <div class="company-name">Bollore
    </body></html>"""
    df = spark.createDataFrame(
        [("{}", entities), ("{}", decoy_unclosed)], "metadata string, html string"
    )
    out = P.parse_html_fields(df).collect()
    a, b = out[0], out[1]
    assert a.title == "Chargé R&D équipe Données"
    assert a.company == "AT&T Côte d'Ivoire"
    assert a.description.startswith("Notre équipe développe")
    assert a.requirements == "Maîtrise de l'ingénierie & du cloud"
    assert a.location.startswith("Abidjan")
    assert a.salary_text == "500 000 FCFA"
    assert a.parsing_quality_score == 1.0
    # decoy class "job-title-archive" must NOT win: h1 fallback does;
    # unclosed inner <p> is contained by the hook's backref close;
    # the unclosed company hook falls through without eating the page
    assert b.title == "Vieille annonce"  # via _plain("h1"), not the decoy hook
    assert b.description.startswith("Premier paragraphe")
    assert "suite du texte" in b.description
    assert b.company is None or "Bollore" not in (b.company or "")


def test_staged_pipeline_driver_and_quality_gate(spark, raw, tmp_path):
    import json as J

    from bigdata_jobmatching_spark import orchestrate as O

    stats = O.run_staged_pipeline(spark, raw, str(tmp_path / "lake"))
    # every stage landed rows and the gate saw them
    assert all(s["rows"] > 0 for s in stats.values())
    assert stats["jobs_parsed"]["required"] and stats["warehouse/fact_offres"]["required"]
    # stage landings are re-readable (restart story): sectors output
    # equals the in-memory chain's row count
    n_disk = spark.read.parquet(str(tmp_path / "lake" / "sectors_enriched")).count()
    assert n_disk == stats["sectors_enriched"]["rows"]
    # strict gate fails on an empty/missing required stage
    import pytest as _pytest

    with _pytest.raises(ValueError, match="quality gate"):
        O.quality_check(spark, str(tmp_path / "nowhere"), strict=True)


def test_quality_gate_reads_footers_only(spark, raw, tmp_path):
    """The gate counts from parquet metadata, like the reference's
    file-count gate: it runs no Spark job, and each stage's files and
    rows are what Spark itself reads, even beside a ``_temporary/``
    write leftover and a ``.``-file, which Spark skips."""
    import shutil

    from bigdata_jobmatching_spark import orchestrate as O
    from bigdata_jobmatching_spark.sources import versioned as V

    lake = str(tmp_path / "lake")
    stats = O.run_staged_pipeline(spark, raw, lake)
    d = tmp_path / "lake" / "skills_enriched"
    part = next(d.rglob("part-*.parquet"))
    (d / "_temporary" / "0").mkdir(parents=True)
    shutil.copy(part, d / "_temporary" / "0" / "part-x.parquet")
    shutil.copy(part, d / ".x.parquet")

    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    gate, n_gate_jobs = jobs_of("gate-footers", lambda: O.quality_check(spark, lake))
    assert n_gate_jobs == 0
    assert gate == stats
    for name, s in gate.items():
        df = (V.read_version(spark, f"{lake}/{name}") if name.startswith("warehouse/")
              else spark.read.parquet(f"{lake}/{name}"))
        n, n_jobs = jobs_of(f"gate-spark-{name}", df.count)
        assert n_jobs > 0  # the job count above can see a count
        assert (s["files"], s["rows"]) == (len(df.inputFiles()), n), name


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    # the training-corpus chain: filter -> exact dedup -> near dedup ->
    # scrub -> split+pack, with planted exact and near duplicates that
    # must disappear, and the monotone count gate green
    from bigdata_jobmatching_spark import orchestrate_corpus as OC
    from bigdata_jobmatching_spark.sources.io import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact_twin = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    docs = base.unionByName(exact_twin)
    stats = OC.run_corpus_pipeline(spark, docs, str(tmp_path / "corpus"))

    n0 = docs.count()
    assert stats["filtered"]["rows"] <= n0
    # exact dedup removes AT LEAST every surviving planted twin (the
    # base corpus also has natural same-token-set duplicates), and the
    # output must contain no fingerprint collisions at all
    n_planted_survivors = OC.quality_filter(exact_twin).count()
    assert stats["exact_deduped"]["rows"] <= stats["filtered"]["rows"] - n_planted_survivors
    from bigdata_jobmatching_spark.functions import text as X

    deduped = spark.read.parquet(str(tmp_path / "corpus/exact_deduped"))
    n_fp = deduped.select(X.fingerprint(F.col("text")).alias("fp")).distinct().count()
    assert n_fp == stats["exact_deduped"]["rows"]
    assert stats["near_deduped"]["rows"] <= stats["exact_deduped"]["rows"]
    # scrub and packing preserve the row count
    assert stats["scrubbed"]["rows"] == stats["near_deduped"]["rows"]
    assert stats["packed"]["rows"] == stats["scrubbed"]["rows"]

    packed = spark.read.parquet(str(tmp_path / "corpus/packed"))
    assert set(r.split for r in packed.select("split").distinct().collect()) <= {"train", "val"}
    # bins are contiguous from 0 within each (split, source)
    bins = packed.groupBy("split", "source").agg(
        F.min("bin_idx").alias("lo"), F.max("bin_idx").alias("hi"),
        F.countDistinct("bin_idx").alias("n"),
    )
    for r in bins.collect():
        assert r.lo == 0 and r.n == r.hi + 1


def test_corpus_gate_rejects_observed_rows_not_landed(spark, tmp_path):
    # a write pass that observed more rows than its footers hold lost
    # data between the observation and the landing: the gate must fail
    from bigdata_jobmatching_spark import orchestrate_corpus as OC

    out = str(tmp_path / "corpus")
    spark.range(5).withColumn("source", F.lit("a")).write.partitionBy(
        "source").parquet(f"{out}/filtered")
    stats = OC.corpus_gate(spark, out, observed={"filtered": {"n_rows": 5}},
                           stages=("filtered",))
    assert stats["filtered"]["rows"] == stats["filtered"]["observed_rows"] == 5
    with pytest.raises(ValueError, match="landed 5 rows but the write pass observed 6"):
        OC.corpus_gate(spark, out, observed={"filtered": {"n_rows": 6}},
                       stages=("filtered",))


def test_html_cascade_comments_cdata_mojibake(spark):
    # Third hostile round (bs4 tolerances, parse_jobs.py:41-230):
    # commented-out hooks must not win a cascade, comments inside
    # element content vanish from text (even with '>' in the comment),
    # CDATA sections are excluded like html.parser does, an unclosed
    # comment swallows the rest of the page, and U+FFFD mojibake
    # (ISO-8859-1 bytes force-read as UTF-8 upstream) never leaks into
    # extracted fields.
    commented_decoys = """<html><body>
    <!-- <h1 class="job-title">Ancienne offre archivee</h1> -->
    <!-- <b class="salary">1 FCFA</b> -->
    <h1 class="job-title">Dev<!-- inline note with > inside -->Ops Lead</h1>
    <div class="company-name">SIFCA<!--suffix--> Group</div>
    <div class="job-description">Pilotage des deploiements continus et de la
    fiabilite des plateformes pour toutes les filiales du groupe.</div>
    <span class="location"><!-- hq -->Abidjan</span>
    <b class="salary">900 000 FCFA</b>
    </body></html>"""
    cdata_unclosed_comment = """<html><body>
    <h1 class="job-title">Data<![CDATA[ <div class="company-name">Fake Co</div> ]]> Analyst</h1>
    <div class="company-name">Nestle CI</div>
    <p class="qualifications">SQL et <![CDATA[junk]]>tableurs avances exiges</p>
    <div class="job-description">Analyse des ventes regionales, production de
    rapports et suivi des indicateurs pour la direction commerciale.</div>
    <!-- footer starts here and the comment never closes
    <em class="city">Bouaké</em>
    <b class="salary">2 FCFA</b>
    </body></html>"""
    mojibake = """<html><body>
    <h1 class="job-title">Ing�nieur G�nie Civil</h1>
    <div class="company-name">Bollor� Logistics</div>
    <div class="job-description">Suivi des chantiers c�tiers, coordination
    des �quipes terrain et reporting hebdomadaire aux parties prenantes.</div>
    <span class="location">San-P�dro</span>
    <b class="salary">750�000 FCFA</b>
    </body></html>"""
    df = spark.createDataFrame(
        [("{}", commented_decoys), ("{}", cdata_unclosed_comment), ("{}", mojibake)],
        "metadata string, html string",
    )
    a, b, c = P.parse_html_fields(df).collect()
    # commented-out hooks lose; inline comments spliced out of content
    assert a.title == "DevOps Lead"
    assert a.company == "SIFCA Group"
    assert a.location == "Abidjan"
    assert a.salary_text == "900 000 FCFA"
    assert a.description.startswith("Pilotage des deploiements")
    # CDATA excluded from text AND its embedded fake hook never matches;
    # everything inside the unclosed comment is dead to the cascade
    assert b.title == "Data Analyst"
    assert b.company == "Nestle CI"
    assert b.requirements == "SQL et tableurs avances exiges"
    assert b.salary_text is None or "2 FCFA" not in b.salary_text
    assert b.location != "Bouaké"  # city only occurs inside the dead comment
    # U+FFFD stripped, fields still extracted and validated
    assert c.title == "Ingnieur Gnie Civil"
    assert c.company == "Bollor Logistics"
    assert c.location == "San-Pdro"
    # the FFFD here was a latin-1 NBSP: the digit grouping collapses
    assert c.salary_text == "750000 FCFA"


def test_html_cascade_interleaved_and_stray_closes(spark):
    # bs4 tolerances continued: inline tags interleaved across the
    # hook close (<b><i>..</b></i>), a stray close tag before the hook
    # closes, and an attribute value containing '>' — the cascade must
    # still extract and strip cleanly.
    interleaved = """<html><body>
    <h1 class="job-title">Chef de <b><i>Projet</b></i> Digital</h1>
    <div class="company-name">MTN </span>Cote d'Ivoire</div>
    <div class="job-description" title="a > b">Coordination des projets de
    transformation digitale et gestion des parties prenantes du programme.</div>
    <span class="location">Abidjan</span>
    </body></html>"""
    df = spark.createDataFrame([("{}", interleaved)], "metadata string, html string")
    a = P.parse_html_fields(df).collect()[0]
    assert a.title == "Chef de Projet Digital"
    assert a.company == "MTN Cote d'Ivoire"  # stray </span> stripped
    assert a.description.startswith("Coordination des projets")
    assert a.location == "Abidjan"


def test_corpus_pipeline_rerun_is_idempotent(spark, tmp_path):
    # restart-safety claim made explicit: running the corpus chain a
    # second time over the same input into the same directory lands
    # byte-identical stage counts and the same packed assignment —
    # every stage is deterministic (LCG split, exact fingerprints,
    # keep-best total orders), so a resumed/retried 100 TB run cannot
    # fork from the first attempt.
    from bigdata_jobmatching_spark import orchestrate_corpus as OC
    from bigdata_jobmatching_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    s1 = OC.run_corpus_pipeline(spark, docs, str(tmp_path / "c1"))
    s2 = OC.run_corpus_pipeline(spark, docs, str(tmp_path / "c1"))
    assert s1 == s2
    packed = spark.read.parquet(str(tmp_path / "c1/packed"))
    again = OC.run_corpus_pipeline(spark, docs, str(tmp_path / "c2"))
    packed2 = spark.read.parquet(str(tmp_path / "c2/packed"))
    assert again == s1
    key = [c for c in packed.columns]
    a = {tuple(r) for r in packed.select(*sorted(key)).collect()}
    b = {tuple(r) for r in packed2.select(*sorted(key)).collect()}
    assert a == b


def test_html_cascade_nested_same_tag_containers(spark):
    # Fourth hostile round: same-name containers NESTED inside the
    # description hook. The lazy `.*?</div>` form stops at the INNER
    # close and silently drops the tail; the nesting-aware first
    # cascade step must return the full content (bs4 parity - the
    # reference gets nesting for free from the tree).
    tail = ("apres la section interne nous continuons la description "
            "avec les responsabilites principales du poste et l'equipe.")
    nested = f"""<html><body>
    <div class="job-description">
      Nous recrutons un ingenieur logiciel distribue confirme.
      <div class="note">Bloc interne important</div>
      {tail}
    </div></body></html>"""
    # deeper nesting (2 levels) exceeds the regex tolerance: the
    # min-length gate must reject the truncation and fall through to
    # the page-text fallback rather than emit a silently-cut field
    deep = """<html><body>
    <div class="job-description">x
      <div>a<div>b</div>c</div>
    </div>
    <p>Page de secours suffisamment longue pour le fallback de texte:
    developpement backend, tests, deploiement continu, mentorat.</p>
    </body></html>"""
    df = spark.createDataFrame(
        [("{}", nested), ("{}", deep)], "metadata string, html string"
    )
    a, b = P.parse_html_fields(df).collect()
    assert a.description.startswith("Nous recrutons un ingenieur")
    assert "Bloc interne important" in a.description
    assert a.description.endswith("l'equipe.")
    # deep: either the whole-page fallback or nothing - never a
    # truncated fragment ending mid-element
    assert b.description is None or "fallback de texte" in b.description


def test_html_cascade_script_style_are_raw_text(spark):
    # Fourth hostile round: <script>/<style> content is CHARACTER
    # DATA to html.parser — a hook inside a JS template string or a
    # CSS rule must never win a cascade, an unterminated <script>
    # swallows the rest of the page, and tag-name case must not
    # matter. bs4 semantics, parse_jobs.py:41-230.
    js_decoys = """<html><head>
    <SCRIPT type="text/javascript">
      var tpl = '<h1 class="job-title">JS Fake Title</h1>';
      var s = "<b class='salary'>1 FCFA</b>";
    </SCRIPT>
    <style>.job-title::before { content: "<span class='location'>Paris</span>"; }</style>
    </head><body>
    <h1 class="job-title">Responsable Qualite</h1>
    <div class="company-name">Cargill CI</div>
    <div class="job-description">Mise en place du systeme qualite, audits
    fournisseurs et formation des equipes de production du site.</div>
    <span class="location">Yamoussoukro</span>
    <b class="salary">650 000 FCFA</b>
    </body></html>"""
    unterminated_script = """<html><body>
    <h1 class="job-title">Comptable Senior</h1>
    <div class="company-name">PwC CI</div>
    <div class="job-description">Tenue de la comptabilite generale, revues
    analytiques mensuelles et preparation des etats financiers annuels.</div>
    <script>
      // this script never closes; everything below is script data
      var x = 1;
    <span class="location">Korhogo</span>
    <b class="salary">3 FCFA</b>
    </body></html>"""
    df = spark.createDataFrame(
        [("{}", js_decoys), ("{}", unterminated_script)],
        "metadata string, html string",
    )
    a, b = P.parse_html_fields(df).collect()
    assert a.title == "Responsable Qualite"
    assert a.company == "Cargill CI"
    assert a.location == "Yamoussoukro"
    assert a.salary_text == "650 000 FCFA"
    assert b.title == "Comptable Senior"
    assert b.company == "PwC CI"
    # the city/salary after the unterminated <script> are dead
    assert b.location != "Korhogo"
    assert b.salary_text is None or "3 FCFA" not in b.salary_text


def test_corpus_pipeline_resume_skips_committed_stages(spark, tmp_path, monkeypatch):
    """resume=True must skip stages whose _SUCCESS committed and redo
    uncommitted ones: after deleting the last two stage dirs and
    removing another stage's _SUCCESS, a resumed run recomputes
    exactly those, reuses the rest, and converges to the identical
    packed output."""
    import shutil
    from pathlib import Path

    from bigdata_jobmatching_spark import orchestrate_corpus as OC
    from bigdata_jobmatching_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "resume_corpus")
    s1 = OC.run_corpus_pipeline(spark, docs, out)
    packed1 = sorted(
        map(tuple, spark.read.parquet(f"{out}/packed")
            .select("doc_id", "split", "bin_idx").collect())
    )

    # simulate a crash after near_deduped: scrubbed mid-write (no
    # _SUCCESS), packed never started
    (Path(out) / "scrubbed" / "_SUCCESS").unlink()
    shutil.rmtree(f"{out}/packed")

    calls = []
    orig = OC.write_stage_observed

    def counting(df, path, *a, **kw):
        calls.append(Path(path).name)
        return orig(df, path, *a, **kw)

    monkeypatch.setattr(OC, "write_stage_observed", counting)
    s2 = OC.run_corpus_pipeline(spark, docs, out, resume=True)
    assert calls == ["scrubbed", "packed"], calls
    packed2 = sorted(
        map(tuple, spark.read.parquet(f"{out}/packed")
            .select("doc_id", "split", "bin_idx").collect())
    )
    assert packed1 == packed2
    for st in ("filtered", "exact_deduped", "near_deduped"):
        assert s1[st]["rows"] == s2[st]["rows"]


def test_html_cascade_quoted_gt_dup_attrs_tag_soup(spark):
    # Fourth hostile round: '>' INSIDE quoted attribute values must not
    # terminate the tag scan, duplicated attributes resolve to the
    # FIRST occurrence (html.parser/bs4 behavior), interleaved
    # (tag-soup) inline tags still yield the flattened text, and a
    # hook whose class list merely CONTAINS the target token as a
    # substring of another token must not match.
    quoted_gt = """<html><body>
    <h1 data-note="a > b" class="job-title">Chef de Projet SI</h1>
    <div title="x>y>z" class="company-name">Orange CI</div>
    <div class="job-description" data-arrow="=>">Cadrage des projets SI,
    animation des comites et suivi budgetaire des programmes.</div>
    <span class="location" data-geo="5>4">Abidjan Plateau</span>
    <b data-x="1>2" class="salary">1 200 000 FCFA</b>
    </body></html>"""
    dup_attrs = """<html><body>
    <h1 class="job-title" class="decoy-title">Auditeur Interne</h1>
    <div class="company-name" class="other">Deloitte CI</div>
    <div class="job-description">Missions d'audit operationnel et financier
    dans les filiales, redaction des rapports de synthese.</div>
    <span class="location">Cocody</span>
    </body></html>"""
    tag_soup_and_substring = """<html><body>
    <h1 class="job-titles-archive">Vieille Offre</h1>
    <h1 class="job-title"><b>Resp<i>onsable</b> RH</i></h1>
    <div class="company-names-list">Fake Inc</div>
    <div class="company-name">PwC Afrique</div>
    <div class="job-description">Gestion des <b><i>carrieres</b></i> et du
    developpement des competences pour la region.</div>
    </body></html>"""
    df = spark.createDataFrame(
        [("{}", quoted_gt), ("{}", dup_attrs), ("{}", tag_soup_and_substring)],
        "metadata string, html string",
    )
    a, b, c = P.parse_html_fields(df).collect()
    assert a.title == "Chef de Projet SI"
    assert a.company == "Orange CI"
    assert a.location == "Abidjan Plateau"
    assert a.salary_text == "1 200 000 FCFA"
    assert "Cadrage des projets SI" in a.description

    # duplicated class attr: first one wins, so the hooks still match
    assert b.title == "Auditeur Interne"
    assert b.company == "Deloitte CI"
    assert b.location == "Cocody"

    # 'job-titles-archive' / 'company-names-list' are NOT class-token
    # matches for job-title/company-name; interleaved tags flatten
    assert c.title == "Responsable RH"
    assert c.company == "PwC Afrique"
    assert "carrieres" in c.description


def test_domain_pipeline_resume_parity(spark, raw, tmp_path, monkeypatch):
    """The domain chain's resume must skip committed stages and
    converge to the same warehouse as a fresh run."""
    from pathlib import Path

    from bigdata_jobmatching_spark import orchestrate as O

    from bigdata_jobmatching_spark.sources import versioned as V

    out = str(tmp_path / "dom")
    O.run_staged_pipeline(spark, raw, out)
    wh1 = sorted(
        map(tuple,
            V.read_version(spark, f"{out}/warehouse/fact_offres").collect())
    )

    # crash simulation: sectors stage uncommitted
    (Path(out) / "sectors_enriched" / "_SUCCESS").unlink()
    calls = []
    orig = O.write_stage

    def counting(df, path, *a, **kw):
        calls.append(Path(path).name)
        return orig(df, path, *a, **kw)

    monkeypatch.setattr(O, "write_stage", counting)
    O.run_staged_pipeline(spark, raw, out, resume=True)
    assert calls == ["sectors_enriched"], calls
    wh2 = sorted(
        map(tuple,
            V.read_version(spark, f"{out}/warehouse/fact_offres").collect())
    )
    assert wh1 == wh2


def test_warehouse_wap_vetoes_poisoned_batch(spark, result, tmp_path):
    """Round-9 verdict task #7: the warehouse publish goes through
    write-audit-publish — a poisoned fact (orphan FK, or an empty
    batch) must leave the previous version current and the staged dir
    orphaned; a clean batch publishes atomically."""
    import pytest

    from bigdata_jobmatching_spark import orchestrate as O
    from bigdata_jobmatching_spark.sources import versioned as V

    tables = {k: v for k, v in result.items() if k != "offers_enriched"}
    wh = str(tmp_path / "wh")
    v = O.publish_warehouse_wap(spark, tables, wh)
    assert all(n == 1 for n in v.values())
    n_fact_v1 = V.read_version(spark, f"{wh}/fact_offres").count()
    assert n_fact_v1 == tables["fact_offres"].count()

    # poison 1: a fact row pointing at a nonexistent enterprise
    poisoned = tables["fact_offres"].unionByName(
        tables["fact_offres"].limit(1).withColumn(
            "entreprise_id", F.lit("ENT_DOES_NOT_EXIST"))
    )
    with pytest.raises(ValueError, match="orphan entreprise_id"):
        O.publish_warehouse_wap(spark, {**tables, "fact_offres": poisoned}, wh)
    # fact pointer untouched (dims re-published at v2 is by-design)
    assert V.current_version(f"{wh}/fact_offres") == 1
    assert V.read_version(spark, f"{wh}/fact_offres").count() == n_fact_v1

    # poison 2: empty fact fails the row floor
    with pytest.raises(ValueError, match="row"):
        O.publish_warehouse_wap(
            spark, {**tables, "fact_offres": tables["fact_offres"].limit(0)},
            wh)
    assert V.current_version(f"{wh}/fact_offres") == 1

    # clean batch publishes (skipping the orphaned staged versions)
    v2 = O.publish_warehouse_wap(spark, tables, wh)
    assert v2["fact_offres"] > 1
    assert V.current_version(f"{wh}/fact_offres") == v2["fact_offres"]
    assert (V.read_version(spark, f"{wh}/fact_offres").count()
            == n_fact_v1)


def test_corpus_pipeline_semantic_stage(spark, tmp_path):
    """The optional SemDeDup stage (round-9): with embeddings given,
    semantic_deduped lands between substring_deduped and scrubbed,
    only shrinks the corpus, and the gate tracks it; operator pair
    count matches the oracled gate query's census on the same data."""
    from bigdata_jobmatching_spark import orchestrate_corpus as OC
    from bigdata_jobmatching_spark.operators import dedup as D
    from bigdata_jobmatching_spark.plans.dedup_queries import (
        _semantic_dedup,
    )
    from bigdata_jobmatching_spark.sources.io import load_table

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    stats = OC.run_corpus_pipeline(
        spark, docs, str(tmp_path / "corpus"), embeddings=emb)
    assert "semantic_deduped" in stats
    assert (stats["semantic_deduped"]["rows"]
            <= stats["substring_deduped"]["rows"])
    assert stats["scrubbed"]["rows"] == stats["semantic_deduped"]["rows"]
    assert stats["semantic_deduped"]["rows"] > 0

    # operator == gate-query mechanics: total pair count agrees
    n_pairs_op = D.semantic_dedup_pairs(emb, "vec_id", "embedding").count()
    n_pairs_q = sum(
        r.n_pairs for r in _semantic_dedup(spark, sf).collect())
    assert n_pairs_op == n_pairs_q > 0

    # without embeddings the stage is absent (backward compatible)
    stats2 = OC.run_corpus_pipeline(spark, docs, str(tmp_path / "c2"))
    assert "semantic_deduped" not in stats2


def test_corpus_pipeline_surprisal_band(spark, tmp_path):
    """The optional CCNet surprisal band (round-9): with a band given,
    surprisal_filtered lands after the quality filter, only shrinks
    the corpus, keeps the mid-band mass, and the gate tracks it; with
    a band no real doc can fail, nothing is dropped."""
    from bigdata_jobmatching_spark import orchestrate_corpus as OC
    from bigdata_jobmatching_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    stats = OC.run_corpus_pipeline(
        spark, docs, str(tmp_path / "c1"), surprisal_band=(2000, 15000))
    assert "surprisal_filtered" in stats
    assert (0 < stats["surprisal_filtered"]["rows"]
            <= stats["filtered"]["rows"])

    # an all-pass band keeps every filtered doc (incl. empties)
    stats2 = OC.run_corpus_pipeline(
        spark, docs, str(tmp_path / "c2"), surprisal_band=(0, 10 ** 6))
    assert (stats2["surprisal_filtered"]["rows"]
            == stats2["filtered"]["rows"])
