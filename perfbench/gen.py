"""Seeded input generators for the benchmark.

The program under test only ever sees what these functions write:

* :func:`write_corpus_lake` -- the read-only TPC-H-ish test lake the
  registered bench queries and the serving corpus read (``part``,
  ``documents``, ``embeddings``, ``orders``, ``customer``,
  ``lineitem``). Its seed is fixed: the corpus is the same in every
  run, so the stored query signatures (``signatures.json``) apply.
* :func:`arrival_order` / :func:`tiered_cv_rows` -- the order in which
  candidates of that lake arrive, and their CV rows in the serving
  schema. Seeded by ``--seed``.
* :func:`write_day` / :func:`write_raw_cvs` -- one day of raw scraped
  offers (JSON lines) with planted cross-source duplicates and salary
  ranges, and the raw CVs the CV lake is landed from. Seeded by
  ``--seed``; :func:`write_day` returns the truths the output checks
  compare against.

Everything here is plain Python / NumPy / Arrow; nothing imports
Spark, so the generators and the checks can be tested without a JVM.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20261017

# Lake size, as a fraction of the TPC-H-ish "sf1" row counts below.
# Small on purpose: every bench query is dominated by per-job engine
# overhead at this size, which is what the workloads are meant to
# expose, and a whole pass fits the run length.
CORPUS_SF = 0.01

_ADJ = ("small", "red", "blue", "hot", "cold", "big", "green", "dark")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "valve", "spring", "pipe")
_LANGS = ("en", "fr", "es", "de", "zh")
_N_SOURCES = 20
_EMB_DIM = 64
_EMB_LABELS = 10
_EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z, seconds


def _vocab(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words (no digits, so the
    tokenizers of both engines see the same tokens)."""
    cons, vow = "bcdfghklmnprstvz", "aeiou"
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(cons) + rng.choice(vow)
                    for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _documents(rng: random.Random, n: int) -> pa.Table:
    """Documents over a Zipf-weighted vocabulary. One in ten is a
    planted near-duplicate of an earlier document of the same
    (lang, source) block with its last token replaced, so the
    near-dup queries have real pairs to find."""
    vocab = _vocab(rng, 1500)
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    texts: list[str] = []
    langs: list[str] = []
    sources: list[str] = []
    by_block: dict[tuple[str, str], list[int]] = {}
    for i in range(n):
        lang = rng.choice(_LANGS)
        src = f"src{rng.randrange(_N_SOURCES)}"
        peers = by_block.get((lang, src), [])
        if peers and rng.random() < 0.1:
            words = texts[rng.choice(peers)].split(" ")
            words[-1] = rng.choice(vocab)
        else:
            words = rng.choices(vocab, weights, k=rng.randint(20, 80))
        texts.append(" ".join(words))
        langs.append(lang)
        sources.append(src)
        by_block.setdefault((lang, src), []).append(i)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(np_rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-ish 64-d vectors around ten label centroids; one in eight
    is a near-copy (tiny noise) of an earlier vector."""
    cent = np_rng.normal(0.0, 1.0, (_EMB_LABELS, _EMB_DIM))
    labels = np_rng.integers(0, _EMB_LABELS, n)
    vecs = cent[labels] + np_rng.normal(0.0, 0.8, (n, _EMB_DIM))
    for i in range(1, n):
        if np_rng.random() < 0.125:
            j = int(np_rng.integers(0, i))
            vecs[i] = vecs[j] + np_rng.normal(0.0, 0.01, _EMB_DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def write_corpus_lake(out_dir: str, sf: float = CORPUS_SF) -> dict[str, int]:
    """Write the fixed-seed test lake under ``out_dir`` as one parquet
    file per table (``<table>.parquet``, the layout
    ``sources.io.load_table`` reads). Returns the row count per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(CORPUS_SEED)
    np_rng = np.random.default_rng(CORPUS_SEED)
    n_part = int(200_000 * sf)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = int(50_000 * sf)

    names = [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)]
    part = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(("ECONOMY", "SMALL", "LARGE", "STANDARD"))
                   for _ in range(n_part)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [900.0 + (k % 1000) / 10 for k in range(n_part)],
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(("BUILDING", "AUTOMOBILE", "MACHINERY",
                                     "HOUSEHOLD", "FURNITURE"))
                         for _ in range(n_cust)],
    })
    days = 6 * 365 + 212
    odate = [_EPOCH_1995 + rng.randrange(days) * 86_400 for _ in range(n_ord)]
    orders = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1_000.0, 500_000.0), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array([t * 1_000_000 for t in odate], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"))
                            for _ in range(n_ord)],
    })
    # 1-7 lines per order; part popularity is skewed (squared uniform)
    # so the co-purchase graph has hubs for pagerank to rank.
    per_order = np_rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(l_ok)
    l_pk = (n_part * np_rng.random(n_li) ** 2).astype(np.int64)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1)
    ship = (np.asarray(odate, dtype=np.int64)[l_ok]
            + np_rng.integers(1, 121, n_li) * 86_400) * 1_000_000
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(l_pk, pa.int64()),
        "l_suppkey": pa.array(l_pk % 1000, pa.int64()),
        "l_linenumber": pa.array(l_ln.astype(np.int32), pa.int32()),
        "l_quantity": pa.array(np_rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(np_rng.uniform(900.0, 100_000.0, n_li), 2)),
        "l_discount": pa.array(np_rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(np_rng.integers(0, 9, n_li) / 100),
        "l_returnflag": pa.array(np.array(list("ANR"))[np_rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(list("FO"))[np_rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    tables = {
        "part": part,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(np_rng, n_emb),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------------- arrivals --

_RAMP_M = 250_000


def _ramp(e: int) -> str:
    return f"s{math.isqrt(e % _RAMP_M)}"


def tiered_cv_rows(keys: list[int]) -> pa.Table:
    """Serving-schema CV rows for the given customer keys: the tiered
    skill profile (three ramp-frequency skills, one popular skill and
    the ubiquitous 'excel'), location, salary wish and experience the
    ``candidate_recs_diversified`` oracle derives from ``customer``."""
    return pa.table({
        "cv_id": pa.array(keys, pa.int64()),
        "competences": pa.array(
            [[_ramp(k), _ramp(k * 11 + 3), _ramp(k * 3 + 7),
              f"pop{(k * 3) % 10}", "excel"] for k in keys],
            pa.list_(pa.string())),
        "localisation_souhaitee_id": [f"LOC_{k % 10}" for k in keys],
        "salaire_souhaite": pa.array(
            [float((k % 20) * 50_000 + 100_000) for k in keys], pa.float64()),
        "annees_experience": pa.array([k % 12 for k in keys], pa.int32()),
    })


def arrival_order(seed: int, n_customers: int, n: int) -> list[int]:
    """``n`` arriving candidate keys: seeded shuffles of the whole
    customer population, back to back (a candidate arrives again only
    after everyone arrived once -- a re-arrival is a profile update,
    served latest-wins)."""
    rng = random.Random(seed)
    out: list[int] = []
    while len(out) < n:
        cycle = list(range(n_customers))
        rng.shuffle(cycle)
        out.extend(cycle)
    return out[:n]


# ------------------------------------------------------------ daily day --

# Skill vocabulary of the day's offers and CVs: catalog keywords of
# plans.domain_pipeline (so the extractor finds them). An offer names
# two or three, a CV two to four, so every skill's document frequency
# stays far under the matcher's 0.5 cap.
DAY_SKILLS = (
    "python", "java", "javascript", "php", "sql", "spark", "hadoop", "kafka",
    "airflow", "excel", "word", "powerpoint", "docker", "kubernetes", "linux",
    "git", "react", "angular", "django", "comptabilite", "audit", "marketing",
    "vente", "negociation",
)
# Canonical city names (passed through unchanged by the city
# canonicalizer), ASCII so the surrogate ids are plain to recompute.
DAY_CITIES = ("Abidjan", "Yamoussoukro", "Daloa", "Korhogo", "Gagnoa", "Abengourou")
# Roles: distinct first three title words, so two offers of one
# company never share a dedup blocking key unless one was planted as
# the other's duplicate.
DAY_ROLES = (
    "Developpeur backend confirme", "Developpeur frontend junior",
    "Analyste donnees marketing", "Ingenieur systemes reseaux",
    "Chef projet digital", "Comptable principal agence",
    "Auditeur interne groupe", "Commercial terrain export",
    "Responsable vente boutique", "Technicien support informatique",
    "Architecte logiciel senior", "Gestionnaire paie social",
    "Assistant direction generale", "Charge clientele entreprises",
    "Administrateur bases donnees", "Consultant fonctionnel finance",
    "Formateur bureautique adultes", "Superviseur centre appels",
    "Acheteur industriel pieces", "Juriste droit affaires",
)
DAY_SOURCES = ("educarriere_ci", "macarrierepro_net", "goafricaonline", "linkedin_ci")
DAY_CONTRACTS = ("CDI", "CDD", "Stage", "Freelance")
DAY_LEVELS = ("Débutant", "Intermédiaire", "Senior", None)
DAY_DATE = "2026-03-02"
N_DAY_ORIGINALS = 1900
N_DAY_DUPLICATES = 100
N_DAY_COMPANIES = 320
N_CVS = 450


def record_id(source: str, key: str) -> str:
    """``functions.ids.record_id``: md5('<source>_<key>')[:16]."""
    return hashlib.md5(f"{source}_{key}".encode()).hexdigest()[:16]


def clean_id(prefix: str, name: str, n: int) -> str:
    """``functions.ids`` surrogate ids: prefix + the uppercased name
    stripped to [A-Z0-9], truncated to ``n`` (ASCII names only)."""
    return prefix + re.sub(r"[^A-Z0-9]", "", name.strip().upper())[:n]


def _companies(rng: random.Random, n: int) -> list[str]:
    """``n`` company names distinct in their first ten cleaned
    characters (``functions.ids.entreprise_id`` truncates there) and
    in their first word (the dedup blocking key's company part)."""
    out: list[str] = []
    seen: set[str] = set()
    cons, vow = "bcdfgklmnprstvz", "aeiou"
    while len(out) < n:
        w = "".join(rng.choice(cons) + rng.choice(vow) for _ in range(5))
        if w[:10] not in seen:
            seen.add(w[:10])
            out.append(f"{w.capitalize()} {rng.choice(('SARL', 'SA', 'Group', 'CI'))}")
    return out


def _grouped(n: int) -> str:
    """1010000 -> '1 010 000', the usual way offers print amounts."""
    return f"{n:,}".replace(",", " ")


# A fault of the program every generated day shows: the salary parser
# (functions.salary.detect_currency) takes the 'eur' that ends French
# job titles such as 'Developpeur' or 'Auditeur' for the euro, so a
# description naming such a role converts its FCFA range at 655 FCFA
# per euro. The first offer of every day is such a case, so every
# refresh fails its salary check, whatever the seed.
FIXED_FAULT = "salary range of a 'Developpeur' offer parsed as euros"


def write_day(seed: int, path: str) -> dict:
    """One day of raw offers as JSON lines in ``path`` (the raw offer
    schema of ``schemas.JOB_RAW_SCHEMA``), and the truths the checks
    use. ``N_DAY_ORIGINALS`` distinct offers, each company posting
    each role at most once, plus ``N_DAY_DUPLICATES`` planted copies
    of an original re-scraped from another source: same title,
    company and location (similarity 1.0 under the dedup rule, where
    two originals never reach 0.7 because they never share a blocking
    key). Half the copies lack a description, so the original is more
    complete and survives; the other half are as complete and scraped
    later, so the copy survives. Three originals in five, and always
    the first, state a salary range in their description."""
    rng = random.Random(seed)
    companies = _companies(rng, N_DAY_COMPANIES)
    slots = [(c, r) for c in range(N_DAY_COMPANIES) for r in range(len(DAY_ROLES))]
    # the first offer is the same kind in every day: a developer role
    # stating its salary range in the description (see FIXED_FAULT)
    picked = [(0, 0)] + rng.sample(slots[1:], N_DAY_ORIGINALS - 1)
    rows: list[dict] = []
    salary: dict[str, tuple[float, float]] = {}
    for i, (ci, ri) in enumerate(picked):
        company, role = companies[ci], DAY_ROLES[ri]
        city = rng.choice(DAY_CITIES)
        skills = rng.sample(DAY_SKILLS, rng.randint(2, 3))
        src = rng.choice(DAY_SOURCES)
        url = f"https://{src}.example/offre/{seed}-{i}"
        desc = f"{role} chez {company} a {city}. Profil maitrisant {' et '.join(skills)}."
        if rng.random() < 0.6 or i == 0:
            lo = rng.randrange(150, 700, 10) * 1000
            hi = lo + rng.randrange(50, 400, 10) * 1000
            desc += f" Salaire: {_grouped(lo)} - {_grouped(hi)} FCFA par mois."
            salary[record_id(src, url)] = (float(lo), float(hi))
        rows.append({
            "job_id": f"{seed:08x}{i:08x}",
            "scraped_at": f"{DAY_DATE}T{rng.randrange(6, 18):02d}:{rng.randrange(60):02d}:00",
            "scraper_version": "1.0",
            "country": "Côte d'Ivoire",
            "title": role,
            "company": company,
            "location": city,
            "description": desc,
            "requirements": None,
            "salary": None,
            "contract_type": rng.choice(DAY_CONTRACTS),
            "experience_level": rng.choice(DAY_LEVELS),
            "industry": None,
            "skills": [],
            "source": src,
            "source_url": url,
            "html_content": None,
        })
    survivors = {record_id(r["source"], r["source_url"]) for r in rows}
    for j, orig_i in enumerate(rng.sample(range(N_DAY_ORIGINALS), N_DAY_DUPLICATES)):
        orig = rows[orig_i]
        src = rng.choice([s for s in DAY_SOURCES if s != orig["source"]])
        dup = dict(orig, job_id=f"{seed:08x}d{j:07x}", source=src,
                   source_url=f"https://{src}.example/offre/{seed}-d{j}")
        dup_id = record_id(src, dup["source_url"])
        orig_id = record_id(orig["source"], orig["source_url"])
        if j % 2 == 0:
            dup["description"] = None  # less complete: the original survives
        else:
            dup["scraped_at"] = f"{DAY_DATE}T23:{j % 60:02d}:00"  # later: the copy survives
            survivors.discard(orig_id)
            survivors.add(dup_id)
            if orig_id in salary:
                salary[dup_id] = salary[orig_id]
        rows.append(dup)
    rng.shuffle(rows)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    kept = [r for r in rows if record_id(r["source"], r["source_url"]) in survivors]
    return {
        "raw_rows": len(rows),
        "survivors": sorted(survivors),
        "salary": {k: v for k, v in salary.items() if k in survivors},
        "dim_entreprise": sorted({clean_id("ENT_", r["company"], 10) for r in kept}),
        "dim_localisation": sorted({clean_id("LOC_", r["location"], 10) for r in kept}),
    }


def write_raw_cvs(seed: int, path: str, n: int = N_CVS) -> None:
    """``n`` raw candidate CVs as JSON lines in ``path`` (the raw CV
    schema of ``schemas.CV_SCHEMA``) over the day's skills and cities."""
    rng = random.Random(seed * 7919 + 1)
    with open(path, "w") as f:
        for i in range(n):
            f.write(json.dumps({
                "cv_id": f"cv{seed}-{i:05d}",
                "annees_experience": rng.randrange(0, 15),
                "niveau_etudes": rng.choice(("Licence", "Master", "BTS")),
                "domaine_etudes": "Informatique",
                "localisation_souhaitee_id": clean_id("LOC_", rng.choice(DAY_CITIES), 10),
                "secteur_souhaite_id": "SECT_TIC",
                "salaire_souhaite": float(rng.randrange(150, 1000, 25) * 1000),
                "type_contrat_souhaite": rng.choice(DAY_CONTRACTS),
                "teletravail_souhaite": rng.random() < 0.3,
                "competences": [s.capitalize() for s in rng.sample(DAY_SKILLS, rng.randint(2, 4))],
                "certifications": [],
                "langues": [{"langue": "Français", "niveau": "C2"}],
                "source_site": "cvtheque",
                "url_cv": f"https://cv.example/{seed}/{i}",
                "scraped_at": f"{DAY_DATE}T08:00:00",
                "disponibilite": "immediate",
                "statut": "actif",
            }) + "\n")
