"""refine_native (HOF even-odd PIP) vs the pandas ray-cast kernel: both
must produce bit-identical verdicts — the arithmetic is pure +,-,*,/ and
comparisons in the same operand order, IEEE-exact in both the JVM and
numpy. Also guards the Spark 4.1 InferFiltersFromConstraints workaround
(engine/geo/pip.py::refine_native)."""

from __future__ import annotations

import pytest

from engine.geo.join import spatial_join
from engine.geo.layer import PolygonLayer
from engine.synth import gen_images


@pytest.fixture(scope="module")
def imgs(spark):
    df = gen_images(spark, 1500, seed=42).select("image_id", "lat", "lon").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def layer():
    return PolygonLayer.from_json()


def _pairs(df):
    return sorted((r["image_id"], r["poly_id"])
                  for r in df.select("image_id", "poly_id").collect())


@pytest.mark.parametrize("level", [6, 12])
@pytest.mark.parametrize("mode", ["native"])
def test_refine_modes_match_pandas(spark, imgs, layer, level, mode):
    a = _pairs(spatial_join(imgs, layer, level=level, refine_mode=mode))
    b = _pairs(spatial_join(imgs, layer, level=level, refine_mode="pandas"))
    assert a == b
    assert len(a) > 0


def test_native_repeated_runs_stable(spark, imgs, layer):
    # regression: the InferFiltersFromConstraints mis-push made this fail
    # nondeterministically at runtime (build-side attribute binding)
    runs = {spatial_join(imgs, layer, level=12, refine_mode="native").count()
            for _ in range(3)}
    assert len(runs) == 1


def test_native_plan_has_no_python_stage(spark, imgs, layer):
    from tests.test_plans import plan_of
    plan = plan_of(spatial_join(imgs, layer, level=12, refine_mode="native"),
                   "simple")
    # everything after the probe generator is JVM-side
    assert "ArrowEvalPython" not in plan.split("MapInPandas")[0]
