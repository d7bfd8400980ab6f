"""tools/check_oracles.py: the --json artifact never reports rows as
matched when no oracle checked them."""

import json

import tools.check_oracles as co


def test_entry_without_oracle_records_rows_match_none(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(co, "TABLES", [])
    monkeypatch.setattr(co, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(co.entry_mod, "queries", lambda: {"probe": lambda s, sf: s.range(3)})
    monkeypatch.setattr(co.entry_mod, "oracle_sql", lambda: {})
    out = tmp_path / "report.json"
    assert co.main(["--json", str(out)]) == 0
    rec = json.loads(out.read_text())["probe"]
    assert rec["rows_match"] is None
    assert rec["spark_rows"] == 3 and not rec["hash_match"]
    assert rec["err"] == "rows-only (no oracle)"
