"""PCA / ANN-projection family: input-shape guards."""

from __future__ import annotations

import pytest

_PCA_KEYS = (
    "embedding_pca_power",
    "embedding_pca_topm",
    "embedding_pca_project",
    "ann_pca_topk",
)


def _write_embeddings(path, n: int, width: int) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(width)
    emb = rng.standard_normal((n, width)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
                "label": pa.array([i % 7 for i in range(n)], pa.int32()),
            }
        ),
        str(path / "embeddings.parquet"),
    )
    return str(path)


@pytest.mark.parametrize("width", [63, 65])
def test_pca_keys_reject_embeddings_of_another_width(spark, tmp_path, width):
    """The projection chains index dims 1..EMB_DIM: a narrower table
    used to break mid-chain and a wider one silently dropped its
    tail. Every PCA key must fail loudly, naming the width."""
    from gentropy_spark.plans import full_registry
    from gentropy_spark.plans.llm_pipeline import EMB_DIM
    from gentropy_spark.session import release_caches

    assert width != EMB_DIM
    sf = _write_embeddings(tmp_path, 24, width)
    reg = full_registry()
    try:
        for key in _PCA_KEYS:
            with pytest.raises(
                Exception, match=f"has width {width}, expected {EMB_DIM}"
            ):
                reg[key].fn.__wrapped__(spark, sf).collect()
    finally:
        release_caches()
