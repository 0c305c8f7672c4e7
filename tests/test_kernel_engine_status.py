"""The C engine's fallback to pure Python says why, once per process."""

import warnings

from ksoup_spark.kernel import ctokenizer as ct
from ksoup_spark.kernel import treebuilder as tb_mod
from ksoup_spark.kernel.tokenizer import Tokenizer


def test_failed_build_reports_reason_and_warns_once(monkeypatch):
    def broken_build():
        raise RuntimeError("gcc exited 1: ctok.c: fatal error")

    monkeypatch.setattr(ct, "_build", broken_build)
    monkeypatch.setattr(ct, "_c", None)
    monkeypatch.setattr(ct, "_tried", False)
    monkeypatch.setattr(ct, "_reason", None)
    monkeypatch.delenv("KSOUP_SPARK_NO_CTOK", raising=False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        loaded, reason = ct.engine_status()
        assert ct.engine_status() == (loaded, reason)
        assert ct._load() is None
    assert loaded is False
    assert reason == ("C build or load failed: RuntimeError: "
                      "gcc exited 1: ctok.c: fatal error")
    fallback = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(fallback) == 1
    assert reason in str(fallback[0].message)
    assert isinstance(ct.make_tokenizer("<p>"), Tokenizer)
    assert len(tb_mod.parse("<p>fallback</p>").kind) > 0


def test_disabled_engine_reports_reason(monkeypatch):
    monkeypatch.setattr(ct, "_c", None)
    monkeypatch.setattr(ct, "_tried", False)
    monkeypatch.setattr(ct, "_reason", None)
    monkeypatch.setenv("KSOUP_SPARK_NO_CTOK", "1")
    assert ct.engine_status() == (False, "disabled by KSOUP_SPARK_NO_CTOK=1")
