"""Systematic physical-plan audit over EVERY registered query.

The 100 TB hygiene rules, enforced mechanically rather than per-query:
no cartesian product and no broadcast-nested-loop join may appear in any
registered plan (the all-pairs baselines q37/q23 are row-guarded AND
carry an explicit whitelist entry here so any new offender fails loudly).
"""

from __future__ import annotations

import pytest

from air_health_gis_tools_spark.plans import queries as Q
from tests.conftest import query_params

SF = "/root/testdata/sf0.001"

# all-pairs BY DESIGN, behind hard row-count guards:
#   q37 embedding near-dup exact baseline (NEARDUP_MAX_EXACT_ROWS)
#   q23 brute-force simhash pair check at fixture scale
ALLOWED_CARTESIAN = {"q37_embedding_neardup", "q23_simhash_nn"}

# range-predicate joins Spark plans as BNLJ over a broadcast side that is
# SMALL by construction (poly/monitor dims); equi-key rewrites exist for
# the big-dim path (cell-explode joins measured in BENCH).
# q43's CROSS JOIN is a FIXED 64-row offsets dim — a deliberate broadcast
# fan-out (row growth is the operator's semantics, not a plan accident).
# q62's stats side is ONE row (corpus n/avgdl/docfreqs) — the standard
# scalar-statistics broadcast
# q91's n side is ONE row (corpus doc count for the PMI denominator) —
# the same scalar-statistics broadcast shape as q62
# q86's n_total side is ONE row (stream count for the heavy-hitter
# threshold) — r6 replacement for the former single-partition window
ALLOWED_BNLJ = ALLOWED_CARTESIAN | {"q35_lines_in_radius",
                                    "q43_ring_sample_mean",
                                    "q62_bm25_topk",
                                    "q86_cms_heavy_hitters",
                                    "q91_pmi_pairs"}


@pytest.mark.parametrize("name", query_params(sorted(Q.QUERIES)))
def test_no_cartesian_or_bnlj(name, reference_data, spark):
    plan = (Q.QUERIES[name](spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    if name not in ALLOWED_CARTESIAN:
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian"
    if name not in ALLOWED_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join")
