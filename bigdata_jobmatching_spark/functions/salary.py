"""Salary text parsing as a native expression chain.

Rebuilds ``parse_salary_comprehensive_udf`` (extract_salary.py:43-177)
— regex families with priority, range detection, currency conversion
(EUR ×655, USD ×600 → FCFA, extract_salary.py:127-142), yearly→monthly
(/12) — as `regexp_extract` + `when` chains so Catalyst can fold,
push, and codegen it. The whole parse is a single projection: zero
shuffles, scales linearly with input.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .binding import let

EUR_TO_FCFA = 655.0
USD_TO_FCFA = 600.0

# Title-keyword salary grid (FCFA/month) from the reference's context
# inference UDF (extract_salary.py:188-206). ORDER matters: the FIRST
# keyword contained in the title wins (the reference iterates the dict
# in insertion order and breaks on first hit).
SALARY_GRID: tuple[tuple[str, int, int], ...] = (
    ("junior", 150_000, 400_000),
    ("senior", 500_000, 1_500_000),
    ("lead", 800_000, 2_500_000),
    ("manager", 1_000_000, 3_000_000),
    ("développeur", 200_000, 800_000),
    ("data scientist", 400_000, 1_200_000),
    ("devops", 350_000, 1_000_000),
    ("architecte", 600_000, 1_800_000),
    ("finance", 300_000, 1_000_000),
    ("tech", 250_000, 900_000),
    ("marketing", 200_000, 600_000),
)
ABIDJAN_FACTOR = 1.2   # extract_salary.py:221-225
CDD_FACTOR = 0.9       # extract_salary.py:227-231
INFERRED_CONFIDENCE = 0.3

_NUM = r"(\d{1,3}(?:[ .,]\d{3})+|\d+)"
# Ordered regex families: ranges first (higher priority), then singles.
_RANGE_PAT = _NUM + r"\s*(?:-|à|a|et)\s*" + _NUM
_SINGLE_PAT = _NUM


def _to_number(s: Column) -> Column:
    """'1 200 000' / '1.200.000' / '1,200,000' -> 1200000 (double)."""
    return F.when(s == "", None).otherwise(
        F.regexp_replace(s, r"[ .,]", "").cast("double")
    )


def detect_currency(text: Column) -> Column:
    """Deviation from extract_salary.py:127-142: the euro token is
    anchored (``\\beur\\b``, here and in ``hasc``), so words ending in
    "-eur" (Développeur, Auditeur, Ingénieur) name no currency."""
    low = F.lower(F.coalesce(text, F.lit("")))
    return (
        F.when(low.rlike(r"(€|euro|\beur\b)"), F.lit("EUR"))
        .when(low.rlike(r"(\$|usd|dollar)"), F.lit("USD"))
        .when(low.rlike(r"(fcfa|f cfa|xof|francs?)"), F.lit("FCFA"))
        .otherwise(F.lit("FCFA"))
    )


def detect_period(text: Column) -> Column:
    """month/year/day/hour detection (base_scraper.py:159-196 rules)."""
    low = F.lower(F.coalesce(text, F.lit("")))
    return (
        F.when(low.rlike(r"(/\s*an|annuel|par an|year|/yr)"), F.lit("year"))
        .when(low.rlike(r"(/\s*jour|journalier|par jour|/day)"), F.lit("day"))
        .when(low.rlike(r"(/\s*h|horaire|par heure|/hour|/hr)"), F.lit("hour"))
        .otherwise(F.lit("month"))
    )


def _to_fcfa(amount: Column, currency: Column) -> Column:
    return (
        F.when(currency == "EUR", amount * EUR_TO_FCFA)
        .when(currency == "USD", amount * USD_TO_FCFA)
        .otherwise(amount)
    )


def _to_monthly(amount: Column, period: Column) -> Column:
    """Normalize to FCFA/month: yearly/12 (extract_salary.py:144-152),
    daily ×22 workdays, hourly ×8×22."""
    return (
        F.when(period == "year", amount / 12.0)
        .when(period == "day", amount * 22.0)
        .when(period == "hour", amount * 8.0 * 22.0)
        .otherwise(amount)
    )


def infer_salary_range(title: Column, location: Column, contract_type: Column) -> Column:
    """Context-based salary inference for offers with no parseable
    salary text (extract_salary.py:180-250): first grid keyword
    contained in the title sets the range; Abidjan multiplies by 1.2
    and CDD by 0.9 (int-truncated, in that order); confidence 0.3.

    A pure when-chain over compile-time constants — one projection,
    zero shuffles, exactly reproducible in ANSI SQL for the oracle.
    """
    tl = F.lower(F.coalesce(title, F.lit("")))
    ll = F.lower(F.coalesce(location, F.lit("")))
    cl = F.lower(F.coalesce(contract_type, F.lit("")))

    grid_min: Column | None = None
    grid_max: Column | None = None
    for kw, lo, hi in SALARY_GRID:
        hit = tl.contains(kw)
        grid_min = F.when(hit, F.lit(lo)) if grid_min is None else grid_min.when(hit, F.lit(lo))
        grid_max = F.when(hit, F.lit(hi)) if grid_max is None else grid_max.when(hit, F.lit(hi))

    def adjust(v: Column) -> Column:
        # int() in the reference truncates; values are positive so
        # floor == trunc, and the CDD factor applies to the already
        # Abidjan-adjusted integer: int(int(v*1.2)*0.9).
        v = F.when(ll.contains("abidjan"), F.floor(v * ABIDJAN_FACTOR)).otherwise(v)
        v = F.when(cl.contains("cdd"), F.floor(v * CDD_FACTOR)).otherwise(v)
        return v.cast("double")

    has = grid_min.isNotNull()
    return F.struct(
        adjust(grid_min).alias("min_fcfa"),
        adjust(grid_max).alias("max_fcfa"),
        F.lit("FCFA").alias("currency"),
        F.lit("month").alias("period"),
        F.when(has, F.lit(INFERRED_CONFIDENCE)).otherwise(F.lit(0.0)).alias("confidence"),
        F.when(has, F.lit("inferred")).otherwise(F.lit("none")).alias("source"),
    )


def parse_salary(text: Column) -> Column:
    """Parse salary text to a struct(min_fcfa, max_fcfa, avg_fcfa,
    currency, period, confidence) — all FCFA/month doubles.

    Priority: explicit range > single amount > nothing. Confidence
    mirrors the reference's tiering (range with currency 0.9, single
    with currency 0.7, bare number 0.4 — extract_salary.py:154-170).
    """
    t = F.coalesce(text, F.lit(""))
    # Bind all regex extractions once per row (a let-struct): the six
    # output fields would otherwise each re-run the regex families
    # after projection collapse.
    bound = F.struct(
        detect_currency(t).alias("cur"),
        detect_period(t).alias("per"),
        F.lower(t).rlike(r"(fcfa|f cfa|xof|€|euro|\beur\b|\$|usd|francs?)").alias("hasc"),
        _to_number(F.regexp_extract(t, _RANGE_PAT, 1)).alias("lo_raw"),
        _to_number(F.regexp_extract(t, _RANGE_PAT, 2)).alias("hi_raw"),
        _to_number(F.regexp_extract(t, _SINGLE_PAT, 1)).alias("single_raw"),
    )

    def body(s: Column) -> Column:
        cur, per = s["cur"], s["per"]
        lo = _to_monthly(_to_fcfa(s["lo_raw"], cur), per)
        hi = _to_monthly(_to_fcfa(s["hi_raw"], cur), per)
        single = _to_monthly(_to_fcfa(s["single_raw"], cur), per)

        is_range = lo.isNotNull() & hi.isNotNull()
        has_single = single.isNotNull()

        min_f = F.when(is_range, F.least(lo, hi)).when(has_single, single)
        max_f = F.when(is_range, F.greatest(lo, hi)).when(has_single, single)
        avg_f = F.when(min_f.isNotNull(), (min_f + max_f) / 2.0)
        conf = (
            F.when(is_range & s["hasc"], 0.9)
            .when(is_range, 0.6)
            .when(has_single & s["hasc"], 0.7)
            .when(has_single, 0.4)
            .otherwise(0.0)
        )
        return F.struct(
            min_f.alias("min_fcfa"),
            max_f.alias("max_fcfa"),
            avg_f.alias("avg_fcfa"),
            F.when(min_f.isNotNull(), cur).alias("currency"),
            F.when(min_f.isNotNull(), per).alias("period"),
            conf.alias("confidence"),
        )

    return let(bound, body)
