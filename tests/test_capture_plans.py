"""capture_plans.canonical: two captures of one plan give one text."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from capture_plans import canonical  # noqa: E402

# One distinct-aggregate rewrite as Catalyst prints it in two JVMs: the
# groups are numbered, and their child columns ordered, by expression-id
# hash order.
A = """(1) Expand
Input [3]: [d#6, a#2L, b#3L]
Arguments: [[d#6, a#2L, null, 1], [d#6, null, b#3L, 2]], [d#6, a#24L, b#25L, gid#23]

(2) HashAggregate
Keys [3]: [d#6, knownfloatingpointnormalized(a#24L) AS a#24L, b#25L, gid#23]
Results [4]: [d#6, a#24L, b#25L, gid#23]

(3) Exchange
Arguments: hashpartitioning(d#6, a#24L, b#25L, gid#23, 64), ENSURE_REQUIREMENTS, [plan_id=43]

(4) HashAggregate
Functions [2]: [partial_count(a#24L) FILTER (WHERE (gid#23 = 1)), partial_count(b#25L) FILTER (WHERE (gid#23 = 2))]
"""

B = """(1) Expand
Input [3]: [d#16, a#12L, b#13L]
Arguments: [[d#16, b#13L, null, 1], [d#16, null, a#12L, 2]], [d#16, b#35L, a#34L, gid#33]

(2) HashAggregate
Keys [3]: [d#16, b#35L, knownfloatingpointnormalized(a#34L) AS a#34L, gid#33]
Results [4]: [d#16, b#35L, a#34L, gid#33]

(3) Exchange
Arguments: hashpartitioning(d#16, b#35L, a#34L, gid#33, 64), ENSURE_REQUIREMENTS, [plan_id=97]

(4) HashAggregate
Functions [2]: [partial_count(a#34L) FILTER (WHERE (gid#33 = 2)), partial_count(b#35L) FILTER (WHERE (gid#33 = 1))]
"""


def test_expand_order_and_ids_are_canonical():
    assert canonical(A) == canonical(B)
    assert "Arguments: [[d#N, a#NL, null, 1], [d#N, null, b#NL, 2]], [d#N, a#NL, b#NL, gid#N]" in canonical(B)
    assert "FILTER (WHERE (gid#N = 1)), partial_count(b#NL) FILTER (WHERE (gid#N = 2))" in canonical(B)


def test_a_real_plan_change_still_shows():
    assert canonical(A) != canonical(A.replace("partial_count(b#25L)", "partial_sum(b#25L)"))


# One let-bound HOF and one checkpointed scan as two JVMs print them: the
# lambda variables carry a process-wide counter, and the checkpoint RDD's
# call site depends on the frame that called localCheckpoint.
L1 = """(1) Scan ExistingRDD
Arguments: [d#6L], MapPartitionsRDD[43] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD

(2) Project
Output [1]: [aggregate(v#7, 0.0, lambdafunction((lambda x_285#20 + lambda y_286#21), lambda x_285#20, lambda y_286#21, false)) AS s#9]
"""

L2 = """(1) Scan ExistingRDD
Arguments: [d#16L], MapPartitionsRDD[7] at localCheckpoint at <unknown>:0, ExistingRDD

(2) Project
Output [1]: [aggregate(v#17, 0.0, lambdafunction((lambda x_18#40 + lambda y_19#41), lambda x_18#40, lambda y_19#41, false)) AS s#19]
"""


def test_lambda_numbers_and_checkpoint_call_sites_are_canonical():
    assert canonical(L1) == canonical(L2)
    assert "lambdafunction((lambda x_1#N + lambda y_2#N)" in canonical(L2)
    assert "at localCheckpoint at <call site>, ExistingRDD" in canonical(L2)


def test_a_real_lambda_body_change_still_shows():
    changed = L2.replace("(lambda x_18#40 + lambda y_19#41)", "(lambda x_18#40 * lambda y_19#41)")
    assert canonical(L1) != canonical(changed)
