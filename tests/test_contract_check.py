"""tools/check_contract.py: a rows-only entry passes only when its
oracle digest columns are true on every row."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "check_contract.py")


class _KeepOpen:
    """The shared test session, minus `stop()` (main() stops its own)."""

    def __init__(self, spark):
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def stop(self):
        pass


def test_rows_only_entry_with_false_digest_fails(spark, monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location("check_contract", _TOOL)
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)

    def drive(flags):
        schema = "doc_id string, matches_oracle boolean, hot_key_matches_oracle boolean"
        return lambda s, sf: s.createDataFrame(
            [(f"d{i}", a, b) for i, (a, b) in enumerate(flags)], schema
        )

    monkeypatch.setattr(cc.entrymod, "queries", lambda: {
        "good_digest": drive([(True, True), (True, True)]),
        "broken_digest": drive([(True, True), (False, True)]),
        "broken_second_digest": drive([(True, False), (True, True)]),
    })
    monkeypatch.setattr(cc.entrymod, "oracle_sql", lambda: {})
    monkeypatch.setattr(cc.entrymod, "_T", [])
    monkeypatch.setattr(cc, "ONLY", None)
    monkeypatch.setattr(cc, "get_spark", lambda **_: _KeepOpen(spark))

    assert cc.main() == 1
    out = capsys.readouterr().out
    assert "ok*   good_digest" in out
    assert "FAIL  broken_digest: matches_oracle" in out
    assert "FAIL  broken_second_digest: hot_key_matches_oracle" in out
    assert "FAILURES: 2" in out
