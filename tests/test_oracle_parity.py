"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 — the same comparison the driver runs at sf0.01 (SURVEY.md §5.1)."""

from __future__ import annotations

import pytest

from retail_etl_pipeline_spark.registry import ORACLES, QUERIES

from .oracle_utils import compare

PARAMS = sorted(ORACLES.keys())

# One registered name per product-quantizer code path (3-bit seed codes,
# 3-bit trained ADC, 3-bit IVF-PQ, 8-bit ADC seed/trained, two-word
# 16-subspace codes): the quantizer family's parity gate in the default
# tier. The full registry sweep below re-checks them with everything else.
PQ_PATHS = (
    "embedding_pq_codes",
    "ann_pq_adc_topk_lloyd",
    "ann_ivfpq_topk",
    "ann_pq8_adc_topk",
    "ann_pq8_adc_topk_lloyd",
    "embedding_pq16_codes",
)


# Full-registry sweep (~300 Spark+DuckDB comparisons) — the single
# largest cost in the suite and a duplicate of the check the driver
# itself runs every round; opt-in so the default path fits the verify
# window (r11 VERDICT item 2).
@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=pytest.mark.slow) for n in PARAMS]
    + [pytest.param(n, id=f"default-{n}") for n in PQ_PATHS],
)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    problems = compare(df, duck, ORACLES[name])
    assert not problems, f"{name}: " + " | ".join(problems)


@pytest.mark.slow
def test_every_query_has_rows(spark, sf_dir):
    """Queries without oracles still must run and be stable."""
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        n = df.count()
        assert n >= 0, name
