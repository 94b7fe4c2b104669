"""The output checks accept the oracle's own rows and reject planted
wrong outputs.

    python3 -m pytest perfbench/test_checks.py -q

No Spark session: the "program output" here is the DuckDB oracle's
result on the benchmark's lake, so an honest output is known to pass,
and each test plants one fault in it.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import SIGNATURES, _duck_lake  # noqa: E402


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lake"))
    gen.write_corpus_lake(d)
    con = _duck_lake(d)
    yield con
    con.close()


def _oracle(con, name: str) -> tuple[list[str], list[tuple]]:
    from bigdata_jobmatching_spark.plans.catalog import load_all

    res = con.execute(load_all()[name].oracle)
    return [d[0] for d in res.description], res.fetchall()


def _stored(name: str) -> dict:
    with open(SIGNATURES) as f:
        return json.load(f)["queries"][name]


def test_generators_are_seeded(tmp_path):
    assert gen.arrival_order(7, 100, 250) == gen.arrival_order(7, 100, 250)
    assert gen.arrival_order(7, 100, 250) != gen.arrival_order(8, 100, 250)
    first = gen.arrival_order(7, 100, 100)
    assert sorted(first) == list(range(100))  # everyone arrives once first
    days = [gen.write_day(s, str(tmp_path / f"d{i}.jsonl"))
            for i, s in enumerate((7, 7, 8))]
    assert days[0] == days[1] and days[0] != days[2]
    assert (tmp_path / "d0.jsonl").read_text() == (tmp_path / "d1.jsonl").read_text()


@pytest.fixture(scope="module")
def day(tmp_path_factory):
    """One generated day and CV set, and the refresh's landed tables as
    a correct program would write them, derived from the raw records."""
    import re

    d = tmp_path_factory.mktemp("day")
    truth = gen.write_day(5, str(d / "day.jsonl"))
    gen.write_raw_cvs(5, str(d / "cvs.jsonl"))
    raw = [json.loads(x) for x in (d / "day.jsonl").read_text().splitlines()]
    kept = [r for r in raw
            if gen.record_id(r["source"], r["source_url"]) in set(truth["survivors"])]
    sectors = []
    for r in kept:
        oid = gen.record_id(r["source"], r["source_url"])
        lo, hi = truth["salary"].get(oid, (None, None))
        sectors.append({
            "offer_id": oid, "location": r["location"],
            "skills": re.search(r"maitrisant (.*?)\.", r["description"]).group(1).split(" et "),
            "salaire_min": lo, "salaire_max": hi,
            "experience_level": r["experience_level"],
        })
    by_id = {r["offer_id"]: r for r in sectors}
    fact = [{
        "offre_id": gen.record_id(r["source"], r["source_url"]),
        "entreprise_id": gen.clean_id("ENT_", r["company"], 10),
        "localisation_id": gen.clean_id("LOC_", r["location"], 10),
        "skills": by_id[gen.record_id(r["source"], r["source_url"])]["skills"],
    } for r in kept]
    for f in fact:
        f["competences_ids"] = [gen.clean_id("COMP_", s, 15) for s in f["skills"]]
    comp = sorted({c for f in fact for c in f["competences_ids"]})
    dims = {"dim_entreprise": truth["dim_entreprise"],
            "dim_localisation": truth["dim_localisation"],
            "dim_competence": comp}
    n = len(truth["survivors"])
    gate = {s: {"rows": truth["raw_rows"]} for s in
            ("jobs_parsed", "skills_enriched", "salaries_enriched")}
    gate.update({s: {"rows": n} for s in
                 ("deduplicated", "sectors_enriched", "warehouse/fact_offres")})
    gate.update({f"warehouse/{t}": {"rows": len(v)} for t, v in dims.items()})
    cvs = [dict(c, competences=[s.lower() for s in c["competences"]])
           for c in map(json.loads, (d / "cvs.jsonl").read_text().splitlines())]
    return truth, gate, list(truth["survivors"]), sectors, fact, dims, cvs


def test_refresh_checks_accept_a_correct_day(day):
    assert checks.day_faults(*day[:6]) == []


def test_dropped_dedup_survivor_is_rejected(day):
    truth, gate, ids, sectors, fact, dims, _ = day
    assert checks.day_faults(truth, gate, ids[1:], sectors, fact, dims)
    assert checks.day_faults(truth, gate, ids, sectors, fact[1:], dims)


def test_wrong_salary_bound_and_orphan_key_are_rejected(day):
    truth, gate, ids, sectors, fact, dims, _ = day
    oid = next(iter(truth["salary"]))
    bad = [dict(r, salaire_max=r["salaire_max"] + 1) if r["offer_id"] == oid else r
           for r in sectors]
    assert checks.day_faults(truth, gate, ids, bad, fact, dims)
    orphan = [dict(fact[0], localisation_id="LOC_NOWHERE")] + fact[1:]
    assert checks.day_faults(truth, gate, ids, sectors, orphan, dims)


def test_match_score_off_by_a_millionth_is_rejected(day):
    sectors, cvs = day[3], day[6]
    sample = [c["cv_id"] for c in cvs[:10]]
    want = checks.match_scores(sectors, cvs, sample)
    assert want and checks.score_faults(dict(want), want) == []
    k = next(iter(want))
    assert checks.score_faults({**want, k: want[k] + 1e-6}, want)
    missing = dict(want)
    del missing[k]
    assert checks.score_faults(missing, want)


def test_oracle_rows_match_stored_signature(lake):
    cols, rows = _oracle(lake, "docs_dedup_keep_best")
    assert checks.signature(cols, rows) == _stored("docs_dedup_keep_best")
    # order-insensitive
    assert checks.signature(cols, rows[::-1]) == _stored("docs_dedup_keep_best")


def test_dropped_survivor_is_rejected(lake):
    cols, rows = _oracle(lake, "docs_dedup_keep_best")
    assert checks.signature(cols, rows[1:]) != _stored("docs_dedup_keep_best")


def test_missing_query_row_is_rejected(lake):
    cols, rows = _oracle(lake, "copurchase_pagerank")
    assert checks.signature(cols, rows) == _stored("copurchase_pagerank")
    assert checks.signature(cols, rows[:-1]) != _stored("copurchase_pagerank")


def test_score_off_by_a_millionth_is_rejected(lake):
    cols, rows = _oracle(lake, "job_cv_matching")
    assert checks.signature(cols, rows) == _stored("job_cv_matching")
    i = cols.index("match_score")
    bad = list(rows)
    r = list(bad[0])
    r[i] = r[i] + 1e-6
    bad[0] = tuple(r)
    assert checks.signature(cols, bad) != _stored("job_cv_matching")


def _recs(lake) -> list[tuple]:
    cols, rows = _oracle(lake, "candidate_recs_diversified")
    idx = [cols.index(c) for c in ("candidate_id", "rnk", "job_id", "rel", "score")]
    return [tuple(r[i] for i in idx) for r in rows]


def test_served_recs_checked_per_epoch(lake):
    rows = _recs(lake)
    want = checks.recs_by_candidate(rows)
    cands = sorted(want)
    epochs = [cands[:3], cands[3:6]]
    assert checks.failed_epochs(want, want, epochs) == []

    # two swapped ranks of one candidate in the second epoch
    c = epochs[1][0]
    (r1, j1, rel1, s1), (r2, j2, rel2, s2) = want[c][:2]
    swapped = dict(want)
    swapped[c] = tuple(sorted(((r2, j1, rel1, s1), (r1, j2, rel2, s2)) + want[c][2:]))
    assert checks.failed_epochs(swapped, want, epochs) == [1]

    # a relevance one micro-unit (a 1e-6 score) off in the first epoch
    c = epochs[0][0]
    off = dict(want)
    (r, j, rel, s) = want[c][0]
    off[c] = tuple(sorted(((r, j, rel + 1, s),) + want[c][1:]))
    assert checks.failed_epochs(off, want, epochs) == [0]

    # a candidate left unserved
    missing = dict(want)
    del missing[epochs[1][2]]
    assert checks.failed_epochs(missing, want, epochs) == [1]
