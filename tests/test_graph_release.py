"""Loops run to a fixed point release the rounds they supersede: the
persistent RDDs one call leaves behind do not grow with its round
count. New ids are compared as sets, so an asynchronous ContextCleaner
removal during the call cannot offset an added id."""

import pytest

from fhc_rco_etl_scalable_spark.operators.dedup import connected_components
from fhc_rco_etl_scalable_spark.operators.graph import kcore_converged


def _path(spark, n, src="src", dst="dst"):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], f"{src} long, {dst} long"
    )


def _new_rdds(spark, run):
    """(result of run(), ids of persistent RDDs it added). The result
    stays referenced while the ids are read."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = run()
    return out, set(jsc.getPersistentRDDs().keySet()) - before


def test_kcore_converged_rdds_do_not_grow_with_rounds(spark):
    left = {}
    for n in (8, 16):
        (surv, rounds), left[n] = _new_rdds(
            spark, lambda: kcore_converged(_path(spark, n), "src", "dst", k=2)
        )
        # a path has no 2-core: both ends peel each round until no
        # edge is left, plus the confirming round
        assert surv.count() == 0 and rounds == n // 2 + 1
    assert len(left[16]) <= len(left[8]) <= 1


@pytest.mark.parametrize("algorithm,lengths", [
    ("propagation", (4, 10)),
    ("star", (4, 64)),
])
def test_connected_components_rdds_do_not_grow_with_rounds(spark, algorithm, lengths):
    left = {}
    for n in lengths:
        comp, left[n] = _new_rdds(
            spark,
            lambda: connected_components(_path(spark, n, "id_a", "id_b"), algorithm=algorithm),
        )
        assert {r.component for r in comp.collect()} == {0}
    assert len(left[lengths[1]]) <= len(left[lengths[0]]) <= 2
