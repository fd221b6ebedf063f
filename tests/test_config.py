"""DedupConfig validation: structural constraints + analytic recall budget."""

from __future__ import annotations

import pytest

from relieff_lsh_spark.config import DedupConfig


def test_canonical_config_clears_recall_budget():
    cfg = DedupConfig()
    # 1-(1-j^r)^b at j=0.8, r=4, b=32
    assert cfg.text_recall_at_threshold == pytest.approx(
        1.0 - (1.0 - 0.8**4) ** 32
    )
    assert cfg.text_recall_at_threshold >= 0.99
    # worst-case all-buckets-salted bound is exposed, not hidden
    assert 0.0 < cfg.text_recall_salted < cfg.text_recall_at_threshold


def test_insufficient_banding_rejected(monkeypatch):
    # b=4, r=4 at j=0.8: recall 1-(1-0.4096)^4 ~= 0.878 < 0.99
    from relieff_lsh_spark.functions import text

    monkeypatch.setattr(text, "TEXT_BANDS", 4)
    with pytest.raises(ValueError, match="recall"):
        DedupConfig()
    # the user's knob: at the fixed 32 x 4 banding, j=0.3 collides on some
    # band with probability 1-(1-0.0081)^32 ~= 0.23
    monkeypatch.undo()
    with pytest.raises(ValueError, match="recall"):
        DedupConfig(jaccard_min=0.3)


def test_pigeonhole_guard():
    with pytest.raises(ValueError, match="multi-index"):
        DedupConfig(hamming_max=4)
