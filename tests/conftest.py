from __future__ import annotations

import pytest

from gentropy_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="gentropy_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def big_emb_dir(tmp_path_factory):
    """A synthetic embeddings table big enough that semdedup's
    two-level assignment leaves the exact regime:
    n = 9990 -> K = ceil(n/256) = 40, K2 = ceil(sqrt(40)) = 7 > 6 =
    SEMDEDUP_NPROBE. Deterministic (seeded numpy), same physical
    schema as the testdata table. Also the random corpus of the E54
    oracle-parity test in test_pca.py."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, dim = 9990, 64
    rng = np.random.default_rng(17)
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row for row in emb.tolist()], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 7 for i in range(n)], pa.int32()),
        }
    )
    d = tmp_path_factory.mktemp("bigemb")
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


@pytest.fixture(autouse=True, scope="module")
def _release_tracked_caches():
    """Unpersist operator-tracked intermediates between test modules so
    a long pytest session cannot accumulate storage memory (ADVICE r2:
    release_caches was defined but never invoked in teardown)."""
    yield
    from gentropy_spark.session import release_caches

    release_caches()


@pytest.fixture(scope="session")
def normalized_plan():
    """``scripts/full_sweep.py``'s plan normaliser, the input of the
    sweep's per-key ``plan_sha``."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "scripts" / "full_sweep.py"
    spec = importlib.util.spec_from_file_location("full_sweep", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.normalized_plan
