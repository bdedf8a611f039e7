import contextlib
import os
import sys
from unittest import mock

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gliner_spark import gate  # noqa: E402

_SPARK = None
_BOUNDS_DEFAULT = dict(gate.BOUNDS)


@pytest.fixture
def tier():
    """Force gate tiers for a block by patching gate.BOUNDS in-process:
    `with tier():` zeroes every bound (the distributed plan everywhere,
    nested gated calls included); `with tier(edges=n):` sets only the
    named kinds. A tier is decided when the operator is called, so only
    the call needs to be inside the block."""

    @contextlib.contextmanager
    def force(**kinds):
        assert set(kinds) <= set(gate.BOUNDS), kinds
        new = kinds or dict.fromkeys(gate.BOUNDS, 0)
        with mock.patch.dict(gate.BOUNDS, new):
            yield

    return force


@pytest.fixture(autouse=True)
def _no_leaked_tier():
    """Fail a test that leaves the gate's bound table changed: the table
    is module state, so a leaked forced tier would silently change the
    tiers of every later test."""
    yield
    left = dict(gate.BOUNDS)
    if left != _BOUNDS_DEFAULT:
        gate.BOUNDS.clear()
        gate.BOUNDS.update(_BOUNDS_DEFAULT)
        pytest.fail(f"gate.BOUNDS left changed: {left}")


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession (local[*], AQE + Arrow on)."""
    global _SPARK
    if _SPARK is None:
        from gliner_spark.session import get_spark

        _SPARK = get_spark(app_name="gliner-spark-tests")
    return _SPARK


@pytest.fixture(scope="session")
def extraction_heads(tmp_path_factory):
    """name -> (docs -> DataFrame) for each of the six extraction heads,
    with the default model; the dense and encoder heads score with the
    oracle's dense checkpoint, the encoder loading it from an npz file."""
    import __spark_entry__ as entry
    from gliner_spark.operators import extraction as ex
    from gliner_spark.operators.prompted_re import extract_relations_prompted
    from gliner_spark.presets import default_model

    model, ck = default_model(), entry._dense_ckpt()
    path = str(tmp_path_factory.mktemp("heads") / "gs_heads_ckpt.npz")
    ck.save_npz(path)
    return {
        "graph": lambda d: ex.extract_graph(d, model),
        "mentions": lambda d: ex.extract_mentions(d, model),
        "dense": lambda d: ex.extract_spans_dense(d, ck),
        "encoder": lambda d: ex.extract_spans_encoder(d, path),
        "triples_spans": lambda d: ex.extract_triples_with_spans(d, model),
        "prompted": lambda d: extract_relations_prompted(d, model),
    }
