"""Freeze the L2G GBM: run the deterministic trainer step and print
the ensemble as Python literals for gentropy_spark/operators/
l2g_model.py. The actual training logic lives in
gentropy_spark/operators/l2g_trainer.py (the ``l2g_train`` CLI step);
this script only formats its artifact for freezing.

Usage: python scripts/train_l2g_gbm.py [sf_dir]
"""

from __future__ import annotations

import os
import pprint
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from gentropy_spark.operators.l2g_trainer import train_l2g
    from gentropy_spark.session import get_session

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("l2g_gbm_train")
    art = train_l2g(spark, sf)
    print(f"# rows {art['n_rows']}, positives {art['n_pos']}")
    print(f"# train AUC {art['train']['auc']}  logloss {art['train']['logloss']}")
    for fold in art["cv"]:
        print(f"# cv fold {fold['fold']}: n={fold['n_test']} auc={fold['auc']} logloss={fold['logloss']}")
    print(f"# threshold {art['threshold']}")
    print("FEATURES =", art["features"])
    print("TREES = ", end="")
    pprint.pprint(art["trees"], width=100)


if __name__ == "__main__":
    main()
