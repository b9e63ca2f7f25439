"""The template compiler parses each expression once: render evaluates the
closures compile_template built, and compile-time validation is that same
parse, so a template that cannot render is refused at compile."""

from __future__ import annotations

import pytest

from binwatch_spark.streaming import templates
from binwatch_spark.streaming.templates import compile_template, item_from_row
from perfbench.relay import TEMPLATE as RELAY_TEMPLATE

ROW = {
    "event_type": "WriteRowsEventV2",
    "binlog_file": "mysql-bin.000001",
    "binlog_position": 4,
    "database": "testdb",
    "table": "users",
    "operation": "INSERT",
    "rows": [{"id": "7", "due": 1700000000000, "name": "ada"}],
}


def test_render_never_parses(monkeypatch):
    item = item_from_row(ROW, 42)
    renders = [
        compile_template(RELAY_TEMPLATE),
        compile_template('{{ .Data.Table | upper | printf "%s:%s" .Data.Database }}'),
        compile_template('{{- (index .Data.Rows 0).name -}} / {{ (list 1 (len .Data.Rows)) | last }}'),
    ]
    expected = [render(item) for render in renders]

    def no_parse(*_args):
        raise AssertionError("render re-parsed a template expression")

    monkeypatch.setattr(templates, "_split_pipes", no_parse)
    monkeypatch.setattr(templates, "_tokenize", no_parse)
    assert [render(item) for render in renders] == expected
    assert expected == [
        '{"route":"t","id":7,"due":1700000000000,"item":42,"op":"INSERT","table":"users"}',
        "testdb:USERS",
        "ada/ 1",
    ]


def test_piped_index_field_fails_at_compile():
    with pytest.raises(ValueError, match="cannot pipe into"):
        compile_template("{{ .Data.Table | (index .Data.Rows 0).id }}")
