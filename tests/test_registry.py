"""Registry hygiene: the contract every declared query must satisfy."""

import re

from pipeline_etl_website_visits_spark.queries.registry import REGISTRY
import pipeline_etl_website_visits_spark.queries  # noqa: F401


def test_every_query_documents_what_it_certifies():
    for name, spec in REGISTRY.items():
        assert spec.certifies, f"{name} has no certifies note"


def test_oracle_less_queries_are_flagged():
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            assert "no-oracle" in spec.tags or name.startswith("x3"), (
                f"{name} lacks an oracle without being tagged no-oracle"
            )


def test_limit_queries_have_order_by_in_oracle():
    """Deterministic sets: LIMIT must be preceded by ORDER BY in the oracle."""
    for name, spec in REGISTRY.items():
        if spec.oracle and re.search(r"\bLIMIT\b", spec.oracle, re.I):
            assert re.search(r"\bORDER BY\b", spec.oracle, re.I), f"{name}: LIMIT without ORDER BY"


def test_numeric_prefixes_are_unique():
    """Each qNN/xNN prefix names exactly one query (VERDICT r1 finding #2)."""
    seen: dict[str, str] = {}
    for name in REGISTRY:
        prefix = name.split("_", 1)[0]
        assert prefix not in seen, f"prefix {prefix}: {seen[prefix]} vs {name}"
        seen[prefix] = name


def test_driver_order_names_exist_and_cover_round1_gaps():
    """DRIVER_ORDER must only name registered queries, contain no dups, and
    the 50-entry driver prefix must include every query that had no
    CORRECTNESS_r01 row (the driver checks exactly the first 50)."""
    from pipeline_etl_website_visits_spark.queries.registry import DRIVER_ORDER, spark_queries

    assert len(set(DRIVER_ORDER)) == len(DRIVER_ORDER)
    for n in DRIVER_ORDER:
        assert n in REGISTRY, f"DRIVER_ORDER names unknown query {n}"
    ordered = list(spark_queries())
    assert len(ordered) == len(REGISTRY)
    assert set(ordered) == set(REGISTRY)
    assert ordered[: len(DRIVER_ORDER)] == list(DRIVER_ORDER)


def test_no_bare_round_of_division_in_oracles():
    """ROUND( x / y ) of float division is the classic cross-engine trap —
    only integer-arithmetic ratio_round or decimal ROUND are allowed."""
    offenders = []
    for name, spec in REGISTRY.items():
        if not spec.oracle:
            continue
        # flag ROUND( ... / ... ) where the divisor side is not the /1000.0
        # integer-millis form and not a DECIMAL sum
        for m in re.finditer(r"ROUND\(([^()]*/[^()]*)\)", spec.oracle.replace("\n", " ")):
            frag = m.group(1)
            if "// " in frag or "DECIMAL" in frag or "/ 1000.0" in frag or "/ 100.0" in frag:
                continue
            offenders.append((name, frag.strip()[:60]))
    assert not offenders, offenders


def test_coverage_crosswalk_is_current():
    """docs/COVERAGE.md's generated registry-crosswalk block must match
    the live registry (VERDICT r9 item 8: the crosswalk cannot drift —
    regenerate with `python tools/gen_coverage.py` after adding or
    re-tagging queries)."""
    import importlib

    gen = importlib.import_module("tools.gen_coverage")
    with open(gen.DOC) as f:
        doc = f.read()
    assert gen.BEGIN in doc and gen.END in doc
    block = gen.BEGIN + doc.split(gen.BEGIN, 1)[1].split(gen.END, 1)[0] + gen.END
    assert block == gen.render(), (
        "stale crosswalk: run `python tools/gen_coverage.py`"
    )
