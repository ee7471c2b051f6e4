"""x91 weak-label classifier — property pins for the rows-only contract.

The op trains logistic regression by full-batch GD against the x08
heuristic gate (stopword density >= 0.1) as weak label. Because training
is iterative it has no SQL oracle; these pins are the correctness check:
monotone loss, distillation accuracy well above the majority class, the
gate's own feature recovered as the dominant weight, and run-to-run
determinism of the emitted scores.
"""

import pytest

from presto_weather_spark.operators.text_analysis import (
    LR_FEATURES,
    train_weak_label_lr,
    x91_weak_label_classifier,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def trained(spark):
    feats, weights, losses = train_weak_label_lr(spark, SF_DIR)
    feats.unpersist()
    return weights, losses


def test_loss_decreases_monotonically(trained):
    _, losses = trained
    assert len(losses) >= 10
    assert all(b < a + 1e-12 for a, b in zip(losses, losses[1:])), losses
    # starts at ln(2) (zero weights) and actually learns something
    assert abs(losses[0] - 0.6931) < 1e-3
    assert losses[-1] < 0.2


def test_recovers_the_gate(spark, trained):
    weights, _ = trained
    # the weak label IS a threshold on stopword_ratio — the trained model
    # must put its largest absolute weight there, positively
    j = max(range(len(LR_FEATURES)), key=lambda j: abs(weights[j]))
    assert LR_FEATURES[j] == "stopword_ratio"
    assert weights[j] > 0

    out = x91_weak_label_classifier(spark, SF_DIR).toPandas()
    acc = (out["pred"] == out["y_weak"]).mean()
    majority = max(out["y_weak"].mean(), 1 - out["y_weak"].mean())
    assert acc >= 0.95
    assert acc > majority + 0.05
    assert set(out["pred"].unique()) <= {0, 1}
    assert out["score"].between(0.0, 1.0).all()


def test_scores_deterministic_across_runs(spark):
    a = (
        x91_weak_label_classifier(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        x91_weak_label_classifier(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (a["score"] == b["score"]).all()
    assert (a["pred"] == b["pred"]).all()


def test_lr_local_and_distributed_weights_agree(spark, sf_dir, monkeypatch):
    # The driver-local GD (taken whenever the feature table fits the
    # driver) must learn the same model as the distributed per-round
    # aggregates — identical math, float-noise tolerance only.
    # DRIVER_ROWS = 0 sends training down the distributed branch; the
    # public key's scores, rounded to 6dp, must not move.
    from presto_weather_spark.operators import _util

    def scores():
        return sorted(map(tuple, x91_weak_label_classifier(spark, sf_dir).collect()))

    f1, w_local, l_local = train_weak_label_lr(spark, sf_dir)
    f1.unpersist()
    local = scores()
    monkeypatch.setattr(_util, "DRIVER_ROWS", 0)
    f2, w_dist, l_dist = train_weak_label_lr(spark, sf_dir)
    f2.unpersist()
    assert len(w_local) == len(w_dist)
    for a, b in zip(w_local, w_dist):
        assert abs(a - b) < 1e-9, (w_local, w_dist)
    assert abs(l_local[-1] - l_dist[-1]) < 1e-9
    assert scores() == local and local
