"""Unit tests for the native function libraries on tiny fixture data."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_jobmatching_spark.functions import ids, salary, similarity as S, text as X


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_normalize_text(spark):
    df = spark.createDataFrame([("  Développeur   PYTHON/Spark!  ",)], "t string")
    out = df.select(X.normalize_text(F.col("t")).alias("n")).collect()[0].n
    assert out == "d veloppeur python spark"  # non-ascii stripped to space


def test_tokens_empty(spark):
    df = spark.createDataFrame([("",), ("  ",), ("a b",)], "t string")
    out = df.select(F.size(X.tokens(F.col("t"))).alias("n")).collect()
    assert [r.n for r in out] == [0, 0, 2]


def test_quality_and_counts(spark):
    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    df = spark.createDataFrame([(good,)], "t string")
    r = df.select(
        X.token_count(F.col("t")).alias("n"),
        X.quality_score(F.col("t")).alias("q"),
    ).collect()[0]
    assert r.n == 14
    assert r.q == 1.0


def test_detect_language(spark):
    rows = [
        ("the cat and the dog is in the house", "en"),
        ("le chat et la maison est un des", "fr"),
        ("el gato y la casa es una que", "es"),
        ("der hund und die katze ist ein von", "de"),
        ("zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "t string")
    out = df.select(X.detect_language(F.col("t")).alias("l")).collect()
    assert [r.l for r in out] == [lang for _, lang in rows]


def test_jaccard(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "a array<string>, b array<string>")
    out = df.select(S.jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0].j
    assert abs(out - 0.5) < 1e-12


def test_cosine(spark):
    df = spark.createDataFrame([([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], "a array<double>, b array<double>")
    out = [r.c for r in df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(out[0] - 1.0) < 1e-12 and abs(out[1]) < 1e-12


def test_minhash_signature_similarity(spark):
    # near-identical sets get near-identical signatures
    a = [f"tok{i}" for i in range(50)]
    b = a[:45] + [f"x{i}" for i in range(5)]
    c = [f"y{i}" for i in range(50)]
    df = spark.createDataFrame([(a, b), (a, c)], "s1 array<string>, s2 array<string>")
    out = df.select(
        F.size(F.array_intersect(
            S.minhash_signature(F.col("s1"), 32), S.minhash_signature(F.col("s2"), 32)
        )).alias("overlap")
    ).collect()
    assert out[0].overlap > out[1].overlap


def test_simhash_hamming(spark):
    a = [f"tok{i}" for i in range(30)]
    b = a[:28] + ["x1", "x2"]
    c = [f"z{i}" for i in range(30)]
    df = spark.createDataFrame([(a, b), (a, c)], "s1 array<string>, s2 array<string>")
    out = df.select(
        S.hamming64(S.simhash64(F.col("s1")), S.simhash64(F.col("s2"))).alias("h")
    ).collect()
    assert out[0].h < out[1].h


def test_surrogate_ids(spark):
    df = spark.createDataFrame([("Tech Solutions CI",), (None,), ("",)], "n string")
    out = [r.i for r in df.select(ids.entreprise_id(F.col("n")).alias("i")).collect()]
    assert out == ["ENT_TECHSOLUTI", "ENT_INCONNU", "ENT_INCONNU"]


def test_record_id_stable(spark):
    df = spark.createDataFrame([("educarriere", "offer-123")], "s string, k string")
    out = df.select(ids.record_id(F.col("s"), F.col("k")).alias("i")).collect()[0].i
    assert len(out) == 16


def test_salary_parse_range_fcfa(spark):
    df = spark.createDataFrame(
        [("Salaire: 300 000 - 500 000 FCFA par mois",),
         ("450000 FCFA",),
         ("2000 EUR par an",),
         ("a negocier",)],
        "t string",
    )
    rows = df.select(salary.parse_salary(F.col("t")).alias("s")).select("s.*").collect()
    assert rows[0].min_fcfa == 300000.0 and rows[0].max_fcfa == 500000.0
    assert rows[0].confidence == 0.9
    assert rows[1].min_fcfa == 450000.0 and rows[1].confidence == 0.7
    assert abs(rows[2].min_fcfa - 2000 * 655 / 12) < 1e-9 and rows[2].period == "year"
    assert rows[3].min_fcfa is None and rows[3].confidence == 0.0


def test_salary_eur_is_a_whole_word(spark):
    # French roles ending in "-eur" name no currency: the stated FCFA
    # range stays FCFA; a standalone EUR token still converts
    texts = [
        f"{role} chez Orange a Abidjan. Salaire: 270 000 - 450 000 FCFA par mois."
        for role in ("Développeur", "Auditeur", "Ingénieur")
    ] + ["2000 EUR par an", "environ 36000 EUR par an"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(salary.parse_salary(F.col("t")).alias("s")).select("s.*").collect()
    for r in rows[:3]:
        assert (r.currency, r.min_fcfa, r.max_fcfa) == ("FCFA", 270000.0, 450000.0)
        assert r.confidence == 0.9
    for r, amount in zip(rows[3:], (2000, 36000)):
        assert r.currency == "EUR" and r.period == "year"
        assert r.min_fcfa == amount * 655.0 / 12.0


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame([("alpha beta gamma",), ("gamma  beta   ALPHA",)], "t string")
    out = [r.f for r in df.select(X.fingerprint(F.col("t")).alias("f")).collect()]
    assert out[0] == out[1]


def test_rolling_hash_fingerprint(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog again and again today",),
         ("the quick brown fox jumps over the lazy dog again and again today",),
         ("completely different words occupy this entire string of text here now",)],
        "t string",
    )
    out = [r.f for r in df.select(
        X.rolling_hash_fingerprint(F.col("t")).alias("f")
    ).collect()]
    assert out[0] == out[1] != out[2]
    assert all(len(f) == 32 for f in out)


def test_shingling_short_docs_no_crash(spark):
    # sequence(1, 0) yields a DESCENDING [1, 0] and slice(toks, 0, n)
    # throws under ANSI — 0/1/n-1-token docs must give empty shingles,
    # not a runtime error (matches DuckDB's empty-list behavior).
    from bigdata_jobmatching_spark.functions import similarity as S

    df = spark.createDataFrame(
        [("",), ("one",), ("two words",), ("exactly three tokens",),
         ("now four whole tokens",), (None,)],
        "t string",
    )
    grams = df.select(S.word_ngrams(F.col("t"), 3).alias("g")).collect()
    sizes = [len(r.g) if r.g is not None else None for r in grams]
    assert sizes == [0, 0, 0, 1, 2, 0]

    # rolling_hash_fingerprint (window=8) on the same short docs: a
    # deterministic md5 (of the empty shingle set), never a crash.
    fps = df.select(X.rolling_hash_fingerprint(F.col("t")).alias("f")).collect()
    assert all(r.f is None or len(r.f) == 32 for r in fps)


def test_canonical_city_variants(spark):
    from bigdata_jobmatching_spark.functions import classify

    df = spark.createDataFrame(
        [("Abidjan - Cocody",), ("abj",), ("Yakro centre",), ("San-Pédro",), ("Paris",)],
        "loc string",
    )
    out = [r.c for r in df.select(classify.canonical_city(F.col("loc")).alias("c")).collect()]
    assert out == ["Abidjan", "Abidjan", "Yamoussoukro", "San-Pédro", "Paris"]


def test_classify_sector_full_formula(spark):
    # Each row plants one component of the reference formula
    # (extract_sectors.py:304-345); the bonus rows exist to FLIP the
    # argmax away from the raw-keyword winner.
    from bigdata_jobmatching_spark.functions import classify

    df = spark.createDataFrame(
        [
            # company +0.5 flips: TIC has 2 text kw (0.6) but FINANCE's
            # 1 kw + sgbci company = 0.8
            ("Poste polyvalent", "developpeur informatique, audit interne chez SGBCI"),
            # title +0.2/kw flips: AGRO 1 kw (0.3) vs TRANSPORT 2 kw
            # (0.6) + title 'chauffeur' (0.2) = 0.8
            ("Chauffeur poids lourd", "livraison de cacao"),
            # multi-word keyword matches by substring
            ("Technicien", "travaux sur chantier, genie civil"),
            # cap at 1.0: 3 kw (0.8 capped) + company 0.5 + title 0.2
            ("Commercial terrain", "vente en boutique Jumia CI"),
            # tie keeps the earlier catalog sector (TIC before FINANCE)
            ("Poste generaliste", "analyse data et audit interne"),
            ("Stagiaire", "poste tout-terrain"),
        ],
        "title string, description string",
    )
    out = df.select(
        classify.classify_sector(
            F.concat_ws(" ", "title", "description"), F.col("title")
        ).alias("s")
    ).select("s.*").collect()
    assert (out[0].secteur_id, out[0].confidence) == ("SECT_FINANCE", 0.8)
    assert (out[1].secteur_id, out[1].confidence) == ("SECT_TRANSPORT", 0.8)
    assert out[2].secteur_id == "SECT_BTP" and abs(out[2].confidence - 0.6) < 1e-9
    assert (out[3].secteur_id, out[3].confidence) == ("SECT_COMMERCE", 1.0)
    assert out[4].secteur_id == "SECT_TIC" and abs(out[4].confidence - 0.3) < 1e-9
    assert (out[5].secteur_id, out[5].confidence) == ("SECT_INCONNU", 0.0)


def test_sector_scores_bigram_keywords(spark):
    # the data-driven join path must match two-word catalog entries
    from bigdata_jobmatching_spark.functions import classify

    catalog = spark.createDataFrame(
        [("SECT_BTP", "genie civil"), ("SECT_TIC", "data")],
        "secteur_id string, keyword string",
    )
    docs = spark.createDataFrame(
        [(1, "expert en genie civil"), (2, "analyste data"), (3, "rien ici")],
        "id long, text string",
    )
    out = {r.id: r.secteur_id for r in classify.sector_scores(catalog, docs, "id", "text").collect()}
    assert out == {1: "SECT_BTP", 2: "SECT_TIC"}


def test_is_remote(spark):
    from bigdata_jobmatching_spark.functions import classify

    df = spark.createDataFrame(
        [("Poste en télétravail complet",), ("100% remote ok",), ("Travail sur site",), (None,)],
        "t string",
    )
    out = [r.r for r in df.select(classify.is_remote(F.col("t")).alias("r")).collect()]
    assert out == [True, True, False, False]


def test_gopher_stats_rules(spark):
    from bigdata_jobmatching_spark.functions import text as X

    base = "the quick brown fox jumps over a lazy dog in the field and runs far " * 5
    rows = [
        ("ok", base),                                     # passes all rules
        ("short", "the quick brown fox"),                 # < 50 words
        ("repeat", "the fox " * 60),                      # top bigram dominates
        ("numeric", " ".join("123 456 789" for _ in range(30))),  # alpha ratio 0
        ("nostop", "zum zug bahn hof haus berg tal see " * 10),   # no EN stopwords
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    out = {r.id: r.s for r in df.select("id", X.gopher_stats(F.col("text")).alias("s")).collect()}
    assert out["ok"].passes
    assert out["ok"].n_words == 75 and out["ok"].stop_hits >= 2
    assert not out["short"].passes and out["short"].n_words == 4
    assert not out["repeat"].passes
    assert out["repeat"].top_bigram_frac > X.GOPHER_MAX_TOP_BIGRAM_FRAC
    assert not out["numeric"].passes and out["numeric"].alpha_word_ratio == 0.0
    assert not out["nostop"].passes and out["nostop"].stop_hits == 0
    assert not out["empty"].passes and out["empty"].n_words == 0
    assert out["empty"].top_bigram_frac is None


def test_from_json_strict_schema(spark):
    """Pin Spark's from_json strictness on adversarial payloads.

    events_props_typed deliberately does NOT use from_json (its
    coercion rules are not SQL-oracle-predictable — round-3 driver
    fail); this test keeps the strict-schema parsing claim verified:
    quoted ints ARE coerced by from_json, decimals/objects/junk null
    out, malformed JSON nulls the whole struct.
    """
    rows = [
        ("int", '{"k": 7}'),
        ("quoted", '{"k": "7"}'),
        ("decimal", '{"k": 7.5}'),
        ("object", '{"k": {}}'),
        ("missing", "{}"),
        ("junk", "not json at all"),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "id string, props string")
    parsed = df.select("id", F.from_json("props", "k int").alias("p"))
    out = {r.id: (r.p is not None, r.p.k if r.p is not None else None)
           for r in parsed.collect()}
    assert out["int"] == (True, 7)
    assert out["quoted"] == (True, None)   # NO coercion of "7" (strict)
    assert out["decimal"] == (True, None)  # no rounding of 7.5
    assert out["object"] == (True, None)
    assert out["missing"] == (True, None)
    assert out["junk"] == (True, None)     # malformed -> null field
    assert out["null"] == (False, None)


def test_bigram_zip_edges(spark):
    """bigram_zip (the shared let-bound pair builder) must yield
    n-1 adjacent pairs, and crucially ZERO pairs for empty or
    single-token text — the split('') -> [''] edge the tokens()
    guard exists for, composed through arrays_zip."""
    rows = [
        ("three", "alpha beta gamma"),
        ("one", "alpha"),
        ("empty", ""),
        ("punct", "!!!"),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    out = {
        r.id: r.pairs
        for r in df.select(
            "id",
            F.transform(
                X.bigram_zip(F.col("text")),
                lambda p: F.concat_ws(" ", p["0"], p["1"]),
            ).alias("pairs"),
        ).collect()
    }
    assert out["three"] == ["alpha beta", "beta gamma"]
    assert out["one"] == []
    assert out["empty"] == []
    assert out["punct"] == []  # normalize strips to nothing
    # NULL text propagates to a NULL array (not []): explode()
    # emits zero rows either way, so the query grain is identical.
    assert out["null"] is None
