"""Output checks, computed apart from the program under test.

Every function here is plain Python over collected rows; the expected
side comes from the registered DuckDB oracle SQL, the generator's
truths or a plain-Python recomputation, never from the engine's code
paths.
"""

from __future__ import annotations

import decimal
import hashlib

import gen

_MASK64 = (1 << 64) - 1


def canon_value(v) -> str:
    """One engine-neutral text form per value: floats by ``repr`` (the
    queries are built so both engines produce bit-identical doubles),
    scale-0 decimals as integers and other decimals as doubles (DuckDB
    types ``round(x, 6)`` of a decimal literal as DECIMAL where Spark
    has DOUBLE), arrays element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        if v.as_tuple().exponent >= 0:
            return str(int(v))
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def signature(columns: list[str], rows) -> dict:
    """Row count plus an order-insensitive 64-bit signature: the sum,
    modulo 2^64, of one md5-derived integer per row, each row's
    values taken in sorted column-name order. Equal multisets of rows
    give equal signatures; one missing, extra or changed row moves
    it."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        text = "|".join(canon_value(r[i]) for i in order)
        total = (total + int.from_bytes(
            hashlib.md5(text.encode()).digest()[:8], "big")) & _MASK64
        n += 1
    return {"rows": n, "sig": str(total)}


# --------------------------------------------------------------- serving --

def recs_by_candidate(rows) -> dict[int, tuple]:
    """(candidate_id, rnk, job_id, rel, score) rows -> candidate ->
    sorted tuple of its (rnk, job_id, rel, score) recommendations."""
    out: dict[int, list] = {}
    for cand, rnk, job, rel, score in rows:
        out.setdefault(int(cand), []).append(
            (int(rnk), int(job), int(rel), int(score)))
    return {c: tuple(sorted(v)) for c, v in out.items()}


def failed_epochs(got: dict[int, tuple], want: dict[int, tuple],
                  epochs: list[list[int]]) -> list[int]:
    """Indexes of the epochs (each a list of arrived candidate ids)
    holding at least one candidate whose served recommendations
    differ from the oracle's, or who got none where the oracle has
    some. Candidates the oracle gives no recommendation must be
    absent from the store as well."""
    bad = []
    for i, cands in enumerate(epochs):
        if any(got.get(c, ()) != want.get(c, ()) for c in cands):
            bad.append(i)
    return bad


# ------------------------------------------------------------- daily day --

def day_faults(truth: dict, gate: dict, dedup_ids, sectors_rows,
               fact_rows, dims: dict[str, list]) -> list[str]:
    """Problems of one day's refresh against the generator's truths:
    per-stage row counts (the quality gate's stats), the dedup
    survivors, the planted salary bounds, the dimension keys, and the
    fact's foreign keys. ``sectors_rows`` / ``fact_rows`` are dicts of
    the landed ``sectors_enriched`` stage and the published fact;
    ``dims`` maps each dimension table to its key column's values."""
    out: list[str] = []
    n_raw, n_kept = truth["raw_rows"], len(truth["survivors"])
    comp_ids = sorted({gen.clean_id("COMP_", s, 15) for r in fact_rows
                       for s in r["skills"] or ()})
    want_rows = {
        "jobs_parsed": n_raw, "skills_enriched": n_raw,
        "salaries_enriched": n_raw, "deduplicated": n_kept,
        "sectors_enriched": n_kept, "warehouse/fact_offres": n_kept,
        "warehouse/dim_entreprise": len(truth["dim_entreprise"]),
        "warehouse/dim_localisation": len(truth["dim_localisation"]),
        "warehouse/dim_competence": len(comp_ids),
    }
    for stage, n in want_rows.items():
        got = gate.get(stage, {}).get("rows")
        if got != n:
            out.append(f"{stage}: {got} rows, want {n}")
    if sorted(dedup_ids) != truth["survivors"]:
        out.append("dedup survivors differ from the planted ones")
    bounds = {r["offer_id"]: (r["salaire_min"], r["salaire_max"]) for r in sectors_rows}
    wrong = [oid for oid, want in truth["salary"].items() if bounds.get(oid) != tuple(want)]
    if wrong:
        out.append(f"{len(wrong)} of {len(truth['salary'])} planted salary ranges differ, "
                   f"e.g. {wrong[0]}: {bounds.get(wrong[0])}, "
                   f"want {tuple(truth['salary'][wrong[0]])}")
    if sorted({r["offre_id"] for r in fact_rows}) != truth["survivors"]:
        out.append("fact offers differ from the dedup survivors")
    for table, want in (("dim_entreprise", truth["dim_entreprise"]),
                        ("dim_localisation", truth["dim_localisation"]),
                        ("dim_competence", comp_ids)):
        if sorted(dims[table]) != want:
            out.append(f"{table} keys differ")
    fks = (("entreprise_id", "dim_entreprise"), ("localisation_id", "dim_localisation"))
    for col, table in fks:
        if not {r[col] for r in fact_rows} <= set(dims[table]):
            out.append(f"fact {col} not in {table}")
    if not {k for r in fact_rows for k in r["competences_ids"] or ()} <= set(dims["dim_competence"]):
        out.append("fact competences_ids not in dim_competence")
    return out


def _round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the double's decimal
    text."""
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP))


_EXP_TARGET = {"Débutant": 1, "Intermédiaire": 4, "Senior": 8}


def _skill_set(xs) -> frozenset:
    return frozenset(s.strip().lower() for s in xs or ())


def match_scores(offers, cvs, candidates, max_skill_df_frac: float = 0.5) -> dict:
    """The prefiltered 40/20/20/20 match scores of the given
    candidates, recomputed in plain Python from the landed lakes:
    ``offers`` are ``sectors_enriched`` rows, ``cvs`` CV-lake rows.
    A pair is scored when it shares a skill held by at most
    ``max_skill_df_frac`` of the offers; skills count over the full
    sets. Returns (job_id, candidate_id) -> score."""
    offers = list(offers)
    o_sk = [(r["offer_id"], _skill_set(r["skills"])) for r in offers]
    df: dict[str, int] = {}
    for _, sk in o_sk:
        for s in sk:
            df[s] = df.get(s, 0) + 1
    cap = len(offers) * max_skill_df_frac
    rare = {s for s, n in df.items() if n <= cap}
    wanted = set(candidates)
    out = {}
    for cv in cvs:
        if cv["cv_id"] not in wanted:
            continue
        comp = _skill_set(cv["competences"])
        for (job, sk), o in zip(o_sk, offers):
            if not (sk & comp & rare):
                continue
            skill = len(sk & comp) / len(sk)
            loc = o["location"]
            o_loc = ("LOC_INCONNU" if loc is None or not loc.strip()
                     else gen.clean_id("LOC_", loc, 10))
            loc_pct = 1.0 if o_loc == cv["localisation_souhaitee_id"] else 0.0
            lo, hi, wish = o["salaire_min"], o["salaire_max"], cv["salaire_souhaite"]
            if wish is None or lo is None or hi is None:
                sal = 0.5
            elif lo <= wish <= hi:
                sal = 1.0
            elif wish < lo:
                sal = max(0.0, 1.0 - (lo - wish) / (lo * 0.5)) if lo > 0 else 0.5
            else:
                sal = max(0.0, 1.0 - (wish - hi) / (hi * 0.5)) if hi > 0 else 0.5
            target = _EXP_TARGET.get(o["experience_level"])
            years = cv["annees_experience"]
            exp = (0.5 if target is None or years is None
                   else max(0.0, 1.0 - abs(years - target) / 8.0))
            out[(job, cv["cv_id"])] = _round6(
                0.4 * skill + 0.2 * loc_pct + 0.2 * sal + 0.2 * exp)
    return out


def score_faults(got: dict, want: dict) -> list[str]:
    """Landed (job_id, candidate_id) -> score against the
    recomputation, restricted to the recomputed candidates: the same
    pairs, each score within 1e-9."""
    cands = {c for _, c in want}
    got = {k: v for k, v in got.items() if k[1] in cands}
    if not want:
        return ["no match scores to check"]
    if set(got) != set(want):
        return [f"scored pairs differ: {len(set(got) ^ set(want))} pairs"]
    bad = [k for k in want if abs(got[k] - want[k]) > 1e-9]
    return [f"{len(bad)} scores differ"] if bad else []
