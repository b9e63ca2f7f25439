"""Unit tests: config loader parity (env expansion, validation) and the
template renderer (the documented template surface, tmpl.go/docs parity)."""

from __future__ import annotations

import re

import pytest

from binwatch_spark.config import ConfigError, expand_env, parse
from binwatch_spark.streaming.templates import compile_template, item_from_row

BASE_DOC = {
    "server": {"id": "s1", "host": "0.0.0.0", "port": 8080},
    "source": {"dbTables": {"testdb": ["users"]}},
    "connectors": [{"name": "c1", "type": "memory"}],
    "routes": [{"name": "r1", "connector": "c1", "operations": ["INSERT"]}],
}


def test_expand_env(monkeypatch):
    monkeypatch.setenv("BW_PORT", "9090")
    monkeypatch.delenv("BW_MISSING", raising=False)
    # set vars substitute; unset vars stay verbatim (utils.go:32-36)
    assert expand_env("port: ${ENV:BW_PORT}$") == "port: 9090"
    assert expand_env("x: ${ENV:BW_MISSING}$") == "x: ${ENV:BW_MISSING}$"


def test_config_parse_and_allowlist():
    cfg = parse(BASE_DOC)
    assert cfg.server.id == "s1"
    assert cfg.source.allowlist == ["testdb.users"]
    assert cfg.routes[0].operations == ["INSERT"]


def test_config_start_location_gtid_set():
    """startLocation.gtidSet rides the config into the source reader (the
    GTID resume token; file/pos stays the untagged-event fallback)."""
    doc = {
        **BASE_DOC,
        "source": {
            **BASE_DOC["source"],
            "startLocation": {
                "file": "mysql-bin.000007",
                "position": 4,
                "gtidSet": "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-20",
            },
        },
    }
    cfg = parse(doc)
    assert cfg.source.start_location.file == "mysql-bin.000007"
    assert cfg.source.start_location.gtid_set == (
        "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-20"
    )
    # gtidSet may also ride alone (pure-GTID failover resume)
    doc["source"]["startLocation"] = {"gtidSet": "abc-def:5"}
    cfg = parse(doc)
    assert cfg.source.start_location.file == ""
    assert cfg.source.start_location.gtid_set == "abc-def:5"


@pytest.mark.parametrize(
    "patch,msg",
    [
        ({"server": {"id": "", "host": "0.0.0.0", "port": 8080}}, "empty server id"),
        ({"server": {"id": "s", "host": "nope", "port": 8080}}, "invalid ip"),
        ({"server": {"id": "s", "host": "0.0.0.0", "port": 80}}, "port"),
        (
            {"sharding": {"enabled": True, "count": 2, "index": 2}},
            "lower than",
        ),
        (
            {"routes": [{"name": "r", "connector": "ghost"}]},
            "no 'ghost' connector",
        ),
    ],
)
def test_config_validation(patch, msg):
    doc = {**BASE_DOC, **patch}
    with pytest.raises(ConfigError, match=msg):
        parse(doc)


ITEM = item_from_row(
    {
        "event_type": "WriteRowsEventV2",
        "binlog_file": "mysql-bin.000001",
        "binlog_position": 4,
        "database": "testdb",
        "table": "users",
        "operation": "INSERT",
        "rows": [{"id": "7", "name": "ada"}],
    },
    item_id=42,
)


def test_template_reference_example():
    # the exact documented template (docs/binwatch.v1alpha2.yaml:69-75)
    template = (
        '{\n  "index": "testdb-users-v1",\n  "itemID":"{{ .ItemID }}",\n'
        '  "operation":"{{ .Data.Operation }}",\n'
        '  "rows": {{- .Data.Rows | toJson }}\n}'
    )
    out = compile_template(template)(ITEM)
    assert '"itemID":"42"' in out
    assert '"operation":"INSERT"' in out
    assert '"rows":[{"id":"7","name":"ada"}]' in out


def test_template_key_index():
    # key-template shape (docs/binwatch.v1alpha2.yaml:48)
    assert compile_template("{{ (index .Data.Rows 0).id }}")(ITEM) == "7"


def test_template_log_fields():
    out = compile_template("{{ .Log.BinlogFile }}/{{ .Log.BinlogPosition }}")(ITEM)
    assert out == "mysql-bin.000001/4"


def test_template_unsupported_raises():
    with pytest.raises(ValueError, match="unsupported"):
        compile_template("{{ uuidv4 }}")


def test_template_sprig_string_functions():
    # sprig common core (tmpl.go:29-36 registers the sprig library)
    assert compile_template("{{ .Data.Table | upper }}")(ITEM) == "USERS"
    assert compile_template('{{ "AdA" | lower }}')(ITEM) == "ada"
    assert compile_template('{{ "  x  " | trim }}')(ITEM) == "x"
    assert compile_template("{{ .Data.Table | quote }}")(ITEM) == '"users"'
    assert compile_template("{{ .Data.Table | squote }}")(ITEM) == "'users'"
    assert compile_template("{{ .Data.Table | b64enc }}")(ITEM) == "dXNlcnM="
    assert compile_template('{{ "dXNlcnM=" | b64dec }}')(ITEM) == "users"


def test_template_default_and_coalesce():
    # sprig default: empty → default, non-empty → value
    assert compile_template('{{ .Data.Operation | default "NONE" }}')(ITEM) == "INSERT"
    item = dict(ITEM)
    item["Data"] = dict(ITEM["Data"], Operation="")
    assert compile_template('{{ .Data.Operation | default "NONE" }}')(item) == "NONE"
    assert compile_template('{{ coalesce "" .Data.Table "z" }}')(ITEM) == "users"


def test_template_printf():
    out = compile_template(
        '{{ printf "%s/%d" .Log.BinlogFile .Log.BinlogPosition }}'
    )(ITEM)
    assert out == "mysql-bin.000001/4"
    # piped value appends as the LAST printf argument (Go pipe semantics)
    assert compile_template('{{ .Data.Table | printf "t=%s" }}')(ITEM) == "t=users"


def test_template_printf_argument_count_mismatch_renders_like_go():
    """Go's fmt renders an operand-count mismatch into the output instead
    of failing: a render error would abort and retry the whole batch."""
    assert (
        compile_template('{{ printf "%s-%d" "t" 42 "USERS" }}')(ITEM)
        == "t-42%!(EXTRA string=USERS)"
    )
    assert compile_template('{{ printf "%s-%d" "t" }}')(ITEM) == "t-%!d(MISSING)"
    assert (
        compile_template('{{ printf "%s" "a" "b" nil }}')(ITEM)
        == "a%!(EXTRA string=b, <nil>)"
    )


def test_template_yaml_json_round_trip():
    out = compile_template("{{ .Data.Rows | toYaml }}")(ITEM)
    assert "id: '7'" in out and not out.endswith("\n")  # helm strips trailing \n
    assert (
        compile_template('{{ fromJson "{\\"a\\": 5}" | toJson }}')(ITEM) == '{"a":5}'
    )
    assert compile_template('{{ fromYaml "a: 5" | toJson }}')(ITEM) == '{"a":5}'
    assert compile_template('{{ fromJsonArray "[1,2]" | toJson }}')(ITEM) == "[1,2]"


def test_template_env(monkeypatch):
    # tmpl.go keeps env enabled (only expandenv is removed)
    monkeypatch.setenv("BW_TPL_X", "hello")
    assert compile_template('{{ env "BW_TPL_X" }}')(ITEM) == "hello"
    monkeypatch.delenv("BW_TPL_X")
    assert compile_template('{{ env "BW_TPL_X" }}')(ITEM) == ""


def test_template_unknown_function_still_fails_at_compile():
    with pytest.raises(ValueError, match="unsupported"):
        compile_template("{{ .Data.Table | htpasswd }}")
    with pytest.raises(ValueError, match="unsupported"):
        compile_template('{{ randAlpha 5 }}')


def test_template_ternary():
    # sprig ternary: condition LAST, so the pipe form works
    assert compile_template('{{ ternary "y" "n" true }}')(ITEM) == "y"
    assert compile_template('{{ ternary "y" "n" false }}')(ITEM) == "n"
    assert compile_template('{{ true | ternary "y" "n" }}')(ITEM) == "y"


def test_template_dict_get_set():
    assert (
        compile_template('{{ get (dict "a" 1 "b" 2) "b" }}')(ITEM) == "2"
    )
    # sprig get on a missing key yields "" (not an error)
    assert compile_template('{{ get (dict "a" 1) "z" }}')(ITEM) == ""
    assert (
        compile_template('{{ set (dict "a" 1) "b" 9 | toJson }}')(ITEM)
        == '{"a":1,"b":9}'
    )
    assert (
        compile_template('{{ unset (dict "a" 1 "b" 2) "a" | toJson }}')(ITEM)
        == '{"b":2}'
    )
    assert compile_template('{{ hasKey (dict "a" 1) "a" }}')(ITEM) == "true"
    assert compile_template('{{ hasKey (dict "a" 1) "z" }}')(ITEM) == "false"


def test_template_list_first_rest():
    assert compile_template("{{ list 1 2 3 | toJson }}")(ITEM) == "[1,2,3]"
    assert compile_template("{{ first (list 1 2 3) }}")(ITEM) == "1"
    assert compile_template("{{ rest (list 1 2 3) | toJson }}")(ITEM) == "[2,3]"
    assert compile_template("{{ last (list 1 2 3) }}")(ITEM) == "3"
    assert compile_template("{{ initial (list 1 2 3) | toJson }}")(ITEM) == "[1,2]"
    assert compile_template('{{ join "-" (list "a" "b") }}')(ITEM) == "a-b"
    # pipes into first/rest (piped value appended last = only arg)
    assert compile_template("{{ list 7 8 | first }}")(ITEM) == "7"


def test_template_regex():
    # Go replacement syntax: ${1} / $1 group references
    assert (
        compile_template('{{ regexReplaceAll "a(x*)b" "-ab-axxb-" "${1}W" }}')(ITEM)
        == "-W-xxW-"
    )
    assert (
        compile_template('{{ regexReplaceAll "u(.)ers" .Data.Table "U${1}ERS" }}')(
            ITEM
        )
        == "UsERS"
    )
    # Go parity: $1ERS greedily names group "1ERS", which doesn't exist →
    # expands EMPTY (Go regexp.ReplaceAllString semantics, not an error)
    assert (
        compile_template('{{ regexReplaceAll "u(.)ers" .Data.Table "U$1ERS" }}')(ITEM)
        == "U"
    )
    assert compile_template('{{ regexMatch "^users$" .Data.Table }}')(ITEM) == "true"
    assert compile_template('{{ regexMatch "^u$" .Data.Table }}')(ITEM) == "false"


def test_template_now_date_injectable_clock():
    import datetime

    from binwatch_spark.streaming import templates as T

    fixed = datetime.datetime(2024, 3, 5, 14, 7, 9)
    T.set_clock(lambda: fixed)
    try:
        assert (
            compile_template('{{ now | date "2006-01-02 15:04:05" }}')(ITEM)
            == "2024-03-05 14:07:09"
        )
        assert compile_template('{{ now | date "Jan 02, 2006" }}')(ITEM) == (
            "Mar 05, 2024"
        )
        # date also accepts epoch seconds
        assert (
            compile_template('{{ date "2006" 1700000000 }}')(ITEM)
            == datetime.datetime.fromtimestamp(1700000000).strftime("%Y")
        )
    finally:
        T.set_clock(None)


def test_template_to_toml():
    import tomllib

    out = compile_template(
        '{{ dict "name" .Data.Table "n" 3 "ok" true "tags" (list "a" "b") | toToml }}'
    )(ITEM)
    parsed = tomllib.loads(out)
    assert parsed == {"name": "users", "n": 3, "ok": True, "tags": ["a", "b"]}
    # one level of sub-tables
    out2 = compile_template('{{ toToml (dict "outer" (dict "k" 1)) }}')(ITEM)
    assert tomllib.loads(out2) == {"outer": {"k": 1}}


def test_template_paren_subexpression_validation():
    # unknown functions inside parens still fail at COMPILE time
    with pytest.raises(ValueError, match="unsupported"):
        compile_template('{{ first (randAlpha 5) }}')
    with pytest.raises(ValueError, match="unbalanced|unsupported"):
        compile_template('{{ first (list 1 2 }}')


def test_template_sprig_math():
    assert compile_template("{{ add 1 2 3 }}")(ITEM) == "6"
    assert compile_template("{{ sub 10 4 }}")(ITEM) == "6"
    assert compile_template("{{ mul 2 3 4 }}")(ITEM) == "24"
    assert compile_template("{{ div 7 2 }}")(ITEM) == "3"  # int div, Go parity
    assert compile_template("{{ mod 7 3 }}")(ITEM) == "1"
    assert compile_template("{{ max 1 9 4 }}")(ITEM) == "9"
    assert compile_template("{{ min 5 2 8 }}")(ITEM) == "2"
    assert compile_template('{{ len .Data.Table }}')(ITEM) == "5"
    assert compile_template('{{ atoi "42" }}')(ITEM) == "42"


def test_template_sprig_strings_extended():
    assert compile_template('{{ contains "ser" .Data.Table }}')(ITEM) == "true"
    assert compile_template('{{ hasPrefix "us" .Data.Table }}')(ITEM) == "true"
    assert compile_template('{{ hasSuffix "rs" .Data.Table }}')(ITEM) == "true"
    assert compile_template('{{ trimPrefix "us" .Data.Table }}')(ITEM) == "ers"
    assert compile_template('{{ trimSuffix "rs" .Data.Table }}')(ITEM) == "use"
    assert compile_template('{{ replace "s" "z" .Data.Table }}')(ITEM) == "uzerz"
    assert compile_template('{{ repeat 3 "ab" }}')(ITEM) == "ababab"
    assert compile_template('{{ substr 1 3 .Data.Table }}')(ITEM) == "se"
    assert compile_template('{{ nospace "a b  c" }}')(ITEM) == "abc"
    assert compile_template('{{ camelcase "http_server_port" }}')(ITEM) == (
        "HttpServerPort"
    )
    assert compile_template('{{ snakecase "HttpServerPort" }}')(ITEM) == (
        "http_server_port"
    )
    assert compile_template('{{ kebabcase "HttpServerPort" }}')(ITEM) == (
        "http-server-port"
    )
    assert compile_template('{{ plural "item" "items" 1 }}')(ITEM) == "item"
    assert compile_template('{{ plural "item" "items" 3 }}')(ITEM) == "items"
    import hashlib

    assert compile_template("{{ sha256sum .Data.Table }}")(ITEM) == (
        hashlib.sha256(b"users").hexdigest()
    )


def test_template_sprig_collections_extended():
    assert (
        compile_template('{{ splitList "," "a,b,c" | toJson }}')(ITEM)
        == '["a","b","c"]'
    )
    assert (
        compile_template('{{ sortAlpha (list "c" "a" "b") | toJson }}')(ITEM)
        == '["a","b","c"]'
    )
    assert (
        compile_template("{{ uniq (list 1 2 1 3) | toJson }}")(ITEM) == "[1,2,3]"
    )
    assert (
        compile_template("{{ reverse (list 1 2 3) | toJson }}")(ITEM) == "[3,2,1]"
    )
    assert (
        compile_template('{{ compact (list 0 1 "" 2) | toJson }}')(ITEM) == "[1,2]"
    )
    assert (
        compile_template("{{ append (list 1 2) 3 | toJson }}")(ITEM) == "[1,2,3]"
    )
    assert compile_template("{{ has 2 (list 1 2) }}")(ITEM) == "true"
    assert (
        compile_template("{{ without (list 1 2 3) 2 | toJson }}")(ITEM) == "[1,3]"
    )
    assert (
        compile_template('{{ keys (dict "a" 1 "b" 2) | sortAlpha | toJson }}')(ITEM)
        == '["a","b"]'
    )
    # merge: left wins, nested dicts recurse
    assert (
        compile_template(
            '{{ merge (dict "a" 1) (dict "a" 9 "b" 2) | toJson }}'
        )(ITEM)
        == '{"a":1,"b":2}'
    )
    assert (
        compile_template('{{ pick (dict "a" 1 "b" 2) "a" | toJson }}')(ITEM)
        == '{"a":1}'
    )
    assert (
        compile_template('{{ omit (dict "a" 1 "b" 2) "a" | toJson }}')(ITEM)
        == '{"b":2}'
    )


def test_template_go_builtin_comparisons():
    assert compile_template("{{ eq 1 1 }}")(ITEM) == "true"
    assert compile_template("{{ ne 1 2 }}")(ITEM) == "true"
    assert compile_template("{{ lt 1 2 }}")(ITEM) == "true"
    assert compile_template("{{ ge 2 2 }}")(ITEM) == "true"
    assert compile_template('{{ not (eq 1 2) }}')(ITEM) == "true"
    assert (
        compile_template('{{ ternary "y" "n" (and true (gt 3 1)) }}')(ITEM) == "y"
    )
    assert compile_template('{{ empty "" }}')(ITEM) == "true"
    assert compile_template("{{ empty .Data.Table }}")(ITEM) == "false"


def test_template_random_family_still_fails_fast():
    for fn in ("uuidv4", "randAlpha", "randNumeric", "genPrivateKey"):
        with pytest.raises(ValueError, match="unsupported"):
            compile_template("{{ %s }}" % fn)


def test_example_config_parses_and_compiles(spark, monkeypatch):
    """docs/example-config.yaml must stay loadable: parse, validation,
    route-template compilation, and the shard key template's compilation
    all succeed."""
    import os

    from binwatch_spark.config import load
    from binwatch_spark.streaming.pipeline import compile_routes

    monkeypatch.setenv("BINWATCH_DB_PASSWORD", "pw1")
    monkeypatch.setenv("BINWATCH_WEBHOOK_PASSWORD", "pw2")
    path = os.path.join(os.path.dirname(__file__), "..", "docs", "example-config.yaml")
    cfg = load(path)
    assert cfg.source.password == "pw1"
    assert cfg.connector_by_name("api-webhook").webhook.password == "pw2"
    assert cfg.source.allowlist == ["shop.users", "shop.orders"]
    routes = compile_routes(cfg)
    assert [r.name for r in routes] == ["users-to-api", "everything-to-topic"]
    # the documented key shape renders the first row's id
    assert compile_template(cfg.sharding.key_template)(ITEM) == "7"


def test_template_go_div_mod_truncate_toward_zero():
    # Go integer division truncates toward zero; % takes the dividend's sign
    assert compile_template("{{ div -7 2 }}")(ITEM) == "-3"
    assert compile_template("{{ div 7 2 }}")(ITEM) == "3"
    assert compile_template("{{ mod -7 3 }}")(ITEM) == "-1"
    assert compile_template("{{ mod 7 3 }}")(ITEM) == "1"


def test_template_atoi_swallows_errors():
    # sprig atoi discards the strconv error: unparsable → 0
    assert compile_template('{{ atoi "notanumber" }}')(ITEM) == "0"
    assert compile_template("{{ atoi .Data.Table }}")(ITEM) == "0"


def test_template_substr_sprig_semantics():
    # negative end = rest of string (NOT Python's from-the-right)
    assert compile_template('{{ substr 0 -1 "hello" }}')(ITEM) == "hello"
    assert compile_template('{{ substr 1 -1 "hello" }}')(ITEM) == "ello"
    assert compile_template('{{ substr -5 2 "hello" }}')(ITEM) == "he"


def test_template_now_has_utc_offset():
    import re as _re

    # default clock is tz-aware local time so Z07:00/-0700 layouts render
    # a real offset (Go time.Now() parity), not an empty string — and the
    # Z07:00 form must be STRICT RFC3339: 'Z' at UTC, else ±hh:mm (colon)
    out = compile_template('{{ now | date "2006-01-02T15:04:05Z07:00" }}')(ITEM)
    assert _re.fullmatch(
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(Z|[+-]\d{2}:\d{2})", out
    ), out
    # -0700 keeps the colonless form; epoch-seconds path is tz-aware too
    out2 = compile_template('{{ date "15:04-0700" 1700000000 }}')(ITEM)
    assert _re.fullmatch(r"\d{2}:\d{2}[+-]\d{4}", out2), out2


def test_template_totoml_rejects_dict_in_array():
    with pytest.raises(ValueError, match="array"):
        compile_template('{{ toToml (dict "a" (list (dict "k" 1))) }}')(ITEM)


def test_template_atoi_strconv_strictness():
    # strconv.Atoi parity: whitespace, underscores, unicode digits all → 0
    assert compile_template('{{ atoi " 12 " }}')(ITEM) == "0"
    assert compile_template('{{ atoi "1_2" }}')(ITEM) == "0"
    assert compile_template('{{ atoi "-7" }}')(ITEM) == "-7"
    assert compile_template('{{ atoi "+7" }}')(ITEM) == "7"


def test_config_logger_level_parses_and_maps():
    # logger: section parity (config.go:23,54; logger.go GetLevel): known
    # levels map through; unknown/empty falls back to DEBUG like GetLevel.
    cfg = parse({**BASE_DOC, "logger": {"level": "warn"}})
    assert cfg.logger.level == "warn"
    assert cfg.logger.py_level() == "WARNING"
    assert cfg.logger.spark_level() == "WARN"
    assert parse(BASE_DOC).logger.py_level() == "DEBUG"
    assert parse({**BASE_DOC, "logger": {"level": "nope"}}).logger.spark_level() == "DEBUG"
    assert parse({**BASE_DOC, "logger": {"level": "error"}}).logger.py_level() == "ERROR"


def test_config_pod_ordinal_sharding_from_env(monkeypatch, tmp_path):
    # The reference's chart wires BINWATCH_SHARD_INDEX from the pod-index
    # label (charts/binwatch/templates/statefulset.yaml:58-69); the same
    # YAML works here via ${ENV:...}$ expansion at load time.
    import yaml

    from binwatch_spark.config import load

    monkeypatch.setenv("BINWATCH_SHARD_INDEX", "2")
    doc = {
        **BASE_DOC,
        "sharding": {
            "enabled": True,
            "count": 4,
            "index": "${ENV:BINWATCH_SHARD_INDEX}$",
        },
    }
    p = tmp_path / "cfg.yaml"
    p.write_text(yaml.safe_dump(doc))
    cfg = load(str(p))
    assert cfg.sharding.index == 2
    assert cfg.sharding.count == 4


def test_template_regex_family_completeness():
    # VERDICT r04 #8: regexFind / regexFindAll / regexSplit /
    # regexQuoteMeta / regexReplaceAllLiteral, sprig (pattern, s, ...) order
    assert compile_template('{{ regexFind "[a-z]+" "AB12cd34ef" }}')(ITEM) == "cd"
    assert compile_template('{{ regexFind "z+" "abc" }}')(ITEM) == ""
    assert (
        compile_template('{{ regexFindAll "[0-9]+" "a1b22c333" -1 | join "," }}')(ITEM)
        == "1,22,333"
    )
    assert (
        compile_template('{{ regexFindAll "[0-9]+" "a1b22c333" 2 | join "," }}')(ITEM)
        == "1,22"
    )
    assert (
        compile_template('{{ regexSplit "," "a,b,c" -1 | join "|" }}')(ITEM)
        == "a|b|c"
    )
    # Go re.Split n semantics: n = max SUBSTRINGS, n == 0 -> empty list
    assert (
        compile_template('{{ regexSplit "," "a,b,c" 2 | join "|" }}')(ITEM)
        == "a|b,c"
    )
    assert compile_template('{{ regexSplit "," "a,b" 0 | len }}')(ITEM) == "0"
    # Go regexp.Split ignores capture groups; Python re.split would
    # interleave the group text ("a", ",", "b")
    assert (
        compile_template('{{ regexSplit "(,)" "a,b" -1 | join "|" }}')(ITEM)
        == "a|b"
    )
    # Empty-match semantics: Go FindAll skips an empty match at the end of
    # the previous match — the regexp.Split documentation example verbatim
    assert (
        compile_template('{{ regexSplit "a*" "abaabaccadaaae" 5 | join "|" }}')(ITEM)
        == "|b|b|c|cadaaae"
    )
    assert (
        compile_template('{{ regexSplit "b*" "abc" -1 | join "|" }}')(ITEM)
        == "a|c"
    )
    assert (
        compile_template('{{ regexQuoteMeta "a.b*c" }}')(ITEM) == r"a\.b\*c"
    )
    # Literal replacement: ${1} must NOT expand
    assert (
        compile_template(
            '{{ regexReplaceAllLiteral "x+" "axxb" "${1}" }}'
        )(ITEM)
        == "a${1}b"
    )


def test_template_b32():
    assert compile_template('{{ b32enc "hi" }}')(ITEM) == "NBUQ===="
    assert compile_template('{{ b32dec "NBUQ====" }}')(ITEM) == "hi"


def test_template_variadic_eq_and_arity_gates():
    # Go's eq is variadic: arg1 == any of the rest
    assert compile_template("{{ eq 1 2 1 }}")(ITEM) == "true"
    assert compile_template("{{ eq 1 2 3 }}")(ITEM) == "false"
    # ADVICE r04: zero/one-arg variadic calls must fail at COMPILE time
    for expr in ("{{ and }}", "{{ or }}", "{{ max }}", "{{ min }}", "{{ eq 1 }}"):
        with pytest.raises(ValueError, match="wrong number of args"):
            compile_template(expr)
    # ...but a pipe supplies the missing argument
    assert compile_template("{{ 2 | max 5 }}")(ITEM) == "5"


def test_template_abbrev_clamps_small_width():
    # sprig errors on width < 4; we clamp so render can't slice negatively
    assert compile_template('{{ abbrev 2 "hello!" }}')(ITEM) == "h..."
    assert compile_template('{{ abbrev 5 "hello!" }}')(ITEM) == "he..."
    assert compile_template('{{ abbrev 9 "hello!" }}')(ITEM) == "hello!"


def test_template_uniq_unhashable():
    t = compile_template('{{ .Data.Rows | uniq | len }}')
    item = dict(ITEM)
    item["Data"] = dict(ITEM["Data"])
    item["Data"]["Rows"] = [{"a": 1}, {"a": 1}, {"a": 2}]
    assert t(item) == "2"


def test_template_excluded_family_error_names_family():
    with pytest.raises(ValueError, match="random family"):
        compile_template("{{ uuidv4 }}")
    with pytest.raises(ValueError, match="crypto family"):
        compile_template("{{ genPrivateKey }}")


def test_template_semver_family():
    # sprig semver object fields
    assert compile_template('{{ (semver "1.2.3-rc.1+b7").Major }}')(ITEM) == "1"
    assert compile_template('{{ (semver "1.2.3-rc.1+b7").Prerelease }}')(ITEM) == "rc.1"
    assert compile_template('{{ (semver "v2.0.1").Minor }}')(ITEM) == "0"
    # semverCompare: exact, ranges, tilde, caret, wildcards, OR groups
    t = lambda c, v: compile_template(  # noqa: E731
        '{{ semverCompare "%s" "%s" }}' % (c, v)
    )(ITEM)
    assert t("1.2.3", "1.2.3") == "true"
    assert t(">= 1.2", "1.3.0") == "true"
    assert t("< 1.2.3", "1.2.3") == "false"
    assert t("~1.2.3", "1.2.9") == "true"
    assert t("~1.2.3", "1.3.0") == "false"
    assert t("^1.2.3", "1.9.0") == "true"
    assert t("^1.2.3", "2.0.0") == "false"
    assert t("^0.2.3", "0.2.9") == "true"
    assert t("^0.2.3", "0.3.0") == "false"
    assert t("^0.0.3", "0.0.3") == "true"
    assert t("^0.0.3", "0.0.4") == "false"
    assert t("1.2.x", "1.2.99") == "true"
    assert t("1.2.x", "1.3.0") == "false"
    assert t("*", "4.5.6") == "true"
    assert t(">=1.0.0 <2.0.0", "1.5.0") == "true"
    assert t("<1.0.0 || >=2.0.0", "2.1.0") == "true"
    assert t("<1.0.0 || >=2.0.0", "1.5.0") == "false"
    # SemVer §11 prerelease ordering + the Masterminds prerelease gate
    assert t(">1.2.3-alpha.1", "1.2.3-alpha.2") == "true"
    # release > any prerelease of the same tuple (SemVer §11); the
    # prerelease GATE only skips prerelease VERSIONS, not releases
    assert t(">1.2.3-alpha.1", "1.2.3") == "true"
    assert t(">1.2.3-alpha.1", "1.2.4") == "true"
    assert t(">=1.0.0", "1.2.3-rc.1") == "false"  # prerelease gate
    with pytest.raises(ValueError, match="invalid semantic version"):
        compile_template('{{ semver "not-a-version" }}')(ITEM)


def test_template_sprig_round5_math_and_seq():
    assert compile_template("{{ ceil 1.1 }}")(ITEM) == "2"  # Go %v: float64(2) -> "2"
    assert compile_template("{{ floor 1.9 }}")(ITEM) == "1"
    assert compile_template("{{ round 123.5555 3 }}")(ITEM) == "123.556"
    assert compile_template("{{ round 123.49999 0 }}")(ITEM) == "123"
    assert compile_template("{{ add1 41 }}")(ITEM) == "42"
    assert compile_template("{{ sub1 43 }}")(ITEM) == "42"
    assert compile_template("{{ biggest 1 7 3 }}")(ITEM) == "7"
    assert compile_template("{{ seq 5 }}")(ITEM) == "1 2 3 4 5"
    assert compile_template("{{ seq 2 5 }}")(ITEM) == "2 3 4 5"
    assert compile_template("{{ seq 1 2 9 }}")(ITEM) == "1 3 5 7 9"
    assert compile_template('{{ until 4 | join "," }}')(ITEM) == "0,1,2,3"
    assert compile_template('{{ untilStep 3 10 2 | join "," }}')(ITEM) == "3,5,7,9"
    assert compile_template('{{ toDecimal "777" }}')(ITEM) == "511"
    assert compile_template("{{ toOrdinal 1 }}{{ toOrdinal 2 }}{{ toOrdinal 13 }}{{ toOrdinal 22 }}")(ITEM) == "1st2nd13th22nd"


def test_template_sprig_round5_strings():
    assert compile_template('{{ trunc 5 "hello world" }}')(ITEM) == "hello"
    assert compile_template('{{ trunc -5 "hello world" }}')(ITEM) == "world"
    assert compile_template('{{ cat "a" 1 "b" }}')(ITEM) == "a 1 b"
    assert compile_template('{{ initials "first try" }}')(ITEM) == "ft"
    assert compile_template('{{ swapcase "aB" }}')(ITEM) == "Ab"
    assert compile_template('{{ wrapWith 5 "|" "aaa bb c ddddd" }}')(ITEM) == "aaa|bb c|ddddd"
    assert compile_template('{{ urlquery "a b&c" }}')(ITEM) == "a+b%26c"
    assert compile_template('{{ toStrings (list 1 2) | join "-" }}')(ITEM) == "1-2"


def test_template_sprig_round5_collections_types_flow():
    assert compile_template('{{ chunk 2 (list 1 2 3 4 5) | len }}')(ITEM) == "3"
    assert compile_template('{{ slice (list 1 2 3 4) 1 3 | join "," }}')(ITEM) == "2,3"
    assert compile_template('{{ all 1 "x" true }}')(ITEM) == "true"
    assert compile_template('{{ all 1 "" true }}')(ITEM) == "false"
    assert compile_template('{{ any 0 "" false }}')(ITEM) == "false"
    assert compile_template('{{ dig "a" "b" "miss" (dict "a" (dict "b" "hit")) }}')(ITEM) == "hit"
    assert compile_template('{{ dig "a" "z" "miss" (dict "a" (dict "b" "hit")) }}')(ITEM) == "miss"
    assert compile_template("{{ typeOf 5 }}")(ITEM) == "int64"
    assert compile_template('{{ kindOf (list 1) }}')(ITEM) == "slice"
    assert compile_template('{{ kindIs "map" (dict) }}')(ITEM) == "true"
    assert compile_template('{{ deepEqual (list 1 2) (list 1 2) }}')(ITEM) == "true"
    with pytest.raises(ValueError, match="boom"):
        compile_template('{{ fail "boom" }}')(ITEM)
    with pytest.raises(ValueError, match="need it"):
        compile_template('{{ required "need it" "" }}')(ITEM)
    assert compile_template('{{ required "need it" "v" }}')(ITEM) == "v"


def test_template_sprig_round5_encoding_urls_time():
    import datetime

    from binwatch_spark.streaming import templates as T

    assert (
        compile_template('{{ toPrettyJson (dict "a" 1) }}')(ITEM)
        == '{\n  "a": 1\n}'
    )
    assert compile_template('{{ adler32sum "abc" }}')(ITEM) == "38600999"
    u = '{{ (urlParse "https://u:p@h.com:8080/p?q=1#f").hostname }}'
    assert compile_template(u)(ITEM) == "h.com"
    assert (
        compile_template(
            '{{ urlJoin (dict "scheme" "https" "host" "h.com" "path" "/p" "query" "q=1") }}'
        )(ITEM)
        == "https://h.com/p?q=1"
    )
    # injectable clock keeps time functions deterministic
    fixed = datetime.datetime(2024, 3, 5, 14, 7, 9)
    old = T._now_fn
    T._now_fn = lambda: fixed
    try:
        t = compile_template(
            '{{ (toDate "2006-01-02" "2024-03-01" | dateModify "48h") | date "2006-01-02" }}'
        )
        assert t(ITEM) == "2024-03-03"
        assert compile_template('{{ now | htmlDate }}')(ITEM) == "2024-03-05"
        assert (
            compile_template('{{ ago (toDate "2006-01-02 15:04:05" "2024-03-05 14:07:04") }}')(ITEM)
            == "5s"
        )
        assert compile_template("{{ duration 95 }}")(ITEM) == "1m35s"  # Go Duration.String()
        assert compile_template("{{ duration 3600 }}")(ITEM) == "1h0m0s"
        assert compile_template("{{ duration 60 }}")(ITEM) == "1m0s"
        assert compile_template("{{ duration 0 }}")(ITEM) == "0s"
    finally:
        T._now_fn = old


def test_template_sprig_round5_float_math_paths():
    assert compile_template("{{ addf 1.5 2 0.5 }}")(ITEM) == "4"
    # decimal arithmetic (sprig execDecimalOp): 0.1 + 0.2 is exactly 0.3
    assert compile_template("{{ addf 0.1 0.2 }}")(ITEM) == "0.3"
    assert compile_template("{{ add1f 1.5 }}")(ITEM) == "2.5"
    assert compile_template("{{ subf 10 2.5 1.5 }}")(ITEM) == "6"
    assert compile_template("{{ mulf 2 2.5 }}")(ITEM) == "5"
    assert compile_template("{{ divf 10 4 }}")(ITEM) == "2.5"
    # Go %v switches to scientific at decimal exponent >= 6
    assert compile_template("{{ mulf 1000000 1.0 }}")(ITEM) == "1e+06"
    assert compile_template("{{ maxf 1.5 7.25 3 }}")(ITEM) == "7.25"
    assert compile_template("{{ minf 1.5 7.25 3 }}")(ITEM) == "1.5"
    # Go path package semantics (POSIX lexical rules)
    assert compile_template('{{ base "/a/b/c.txt" }}')(ITEM) == "c.txt"
    assert compile_template('{{ base "/a/b/" }}')(ITEM) == "b"
    assert compile_template('{{ base "" }}')(ITEM) == "."
    assert compile_template('{{ base "///" }}')(ITEM) == "/"
    assert compile_template('{{ dir "/a/b/c.txt" }}')(ITEM) == "/a/b"
    assert compile_template('{{ dir "a" }}')(ITEM) == "."
    assert compile_template('{{ clean "/a/./b/../c" }}')(ITEM) == "/a/c"
    assert compile_template('{{ ext "/a/b.tar.gz" }}')(ITEM) == ".gz"
    assert compile_template('{{ ext "/a/b" }}')(ITEM) == ""
    assert compile_template('{{ isAbs "/a" }}')(ITEM) == "true"
    assert compile_template('{{ osIsAbs "a" }}')(ITEM) == "false"
    assert compile_template('{{ osBase "/a/b" }}')(ITEM) == "b"


def test_template_sprig_round5_string_dict_stragglers():
    # abbrevboth: sprig's own doc example
    assert (
        compile_template('{{ abbrevboth 5 10 "1234 5678 9123" }}')(ITEM)
        == "...5678..."
    )
    assert compile_template('{{ abbrevboth 5 10 "short" }}')(ITEM) == "short"
    assert compile_template('{{ untitle "Hello World" }}')(ITEM) == "hello world"
    assert compile_template('{{ trimall "$" "$5.00$" }}')(ITEM) == "5.00"
    # split/splitn return dicts keyed _0.._n (Go strings.Split/SplitN)
    assert compile_template('{{ (split "-" "a-b-c")._1 }}')(ITEM) == "b"
    assert compile_template('{{ (splitn "-" 2 "a-b-c")._1 }}')(ITEM) == "b-c"
    assert (
        compile_template(
            '{{ pluck "a" (dict "a" 1) (dict "b" 2) (dict "a" 3) | join "," }}'
        )(ITEM)
        == "1,3"
    )
    # mergeOverwrite: right wins, recursing into nested maps (merge: left wins)
    assert (
        compile_template(
            '{{ (mergeOverwrite (dict "a" (dict "x" 1 "y" 2)) (dict "a" (dict "x" 9))).a.x }}'
        )(ITEM)
        == "9"
    )
    assert (
        compile_template(
            '{{ (merge (dict "a" 1) (dict "a" 9 "b" 2)).a }}'
        )(ITEM)
        == "1"
    )
    # must* spellings alias the plain regex family
    assert compile_template('{{ mustRegexFind "[0-9]+" "ab12cd" }}')(ITEM) == "12"
    assert compile_template('{{ mustRegexMatch "^a" "abc" }}')(ITEM) == "true"
    assert (
        compile_template('{{ mustRegexSplit "-" "a-b-c" -1 | join "," }}')(ITEM)
        == "a,b,c"
    )


def test_template_sprig_round5_time_zone_duration():
    import datetime

    from binwatch_spark.streaming import templates as T

    fixed = datetime.datetime(2024, 3, 5, 14, 7, 9, tzinfo=datetime.timezone.utc)
    old = T._now_fn
    T._now_fn = lambda: fixed
    try:
        assert (
            compile_template('{{ dateInZone "2006-01-02 15:04" (now) "UTC" }}')(ITEM)
            == "2024-03-05 14:07"
        )
        # IANA zone conversion: UTC 14:07 is 09:07 in New York (EST, March 5)
        assert (
            compile_template(
                '{{ dateInZone "15:04" (now) "America/New_York" }}'
            )(ITEM)
            == "09:07"
        )
        # unknown zone falls back to UTC (sprig's fallback)
        assert (
            compile_template('{{ dateInZone "15:04" (now) "No/Such_Zone" }}')(ITEM)
            == "14:07"
        )
        assert (
            compile_template('{{ htmlDateInZone (now) "UTC" }}')(ITEM)
            == "2024-03-05"
        )
    finally:
        T._now_fn = old
    assert compile_template('{{ durationRound "2h10m5s" }}')(ITEM) == "2h"
    assert compile_template('{{ durationRound "2400h10m5s" }}')(ITEM) == "3mo"
    assert compile_template('{{ durationRound "-90m" }}')(ITEM) == "-1h"
    assert compile_template('{{ durationRound 59 }}')(ITEM) == "59s"


def test_template_sprig_round5_new_exclusions_fail_fast():
    for fn in ("encryptAES", "getHostByName", "buildCustomCert"):
        with pytest.raises(ValueError, match="deliberately not"):
            compile_template("{{ " + fn + ' "x" }}')


def test_config_full_reference_surface_roundtrip():
    """Every YAML field in the reference's config struct
    (api/v1alpha2/config.go:22-167) set to a non-default value must land on
    the parsed JobConfig — field-by-field parity evidence for the whole
    surface, not just the fields the example happens to use."""
    import yaml as _yaml

    from binwatch_spark.config import parse

    doc = _yaml.safe_load("""
logger:
  level: warn
server:
  id: srv-9
  host: 10.1.2.3
  port: 9191
  stopInError: true
  restartSyncerOnError: true
  senderWorkers: 4
  pool:
    size: 77
    itemByRow: true
  cache:
    enabled: true
    type: local
    local:
      path: /tmp/bw-cache
    redis:
      host: r.example
      port: 6379
      password: s3cret
source:
  flavor: mariadb
  serverID: 4242
  host: db.example
  port: 3307
  user: repl
  password: replpw
  dbTables:
    shop:
      - orders
      - customers
  readTimeout: 45s
  heartbeatPeriod: 15s
  startLocation:
    file: mysql-bin.000007
    position: 1234
  maxBytesPerBatch: 1024
sharding:
  enabled: true
  count: 8
  index: 3
  keyTemplate: "{{ .db }}.{{ .table }}"
connectors:
  - name: hook
    type: webhook
    webhook:
      url: https://sink.example/ev
      method: PUT
      headers:
        X-Team: data
      credentials:
        username: u1
        password: p1
      tlsSkipVerify: true
  - name: bus
    type: google_pubsub
    pubsub:
      projectID: proj-1
      topicID: topic-1
routes:
  - name: orders-route
    operations: [INSERT, DELETE]
    connector: hook
    template: "{{ .db }}"
    dbTable: shop.orders
""")
    cfg = parse(doc)
    assert cfg.logger.level == "warn" and cfg.logger.spark_level() == "WARN"
    s = cfg.server
    assert (s.id, s.host, s.port) == ("srv-9", "10.1.2.3", 9191)
    assert s.stop_in_error and s.restart_syncer_on_error
    assert s.sender_workers == 4 and s.pool_size == 77 and s.item_by_row
    # cache.local.path maps onto the Spark checkpoint dir (documented
    # supersession of the reference's local/redis cache backends)
    assert s.checkpoint_dir == "/tmp/bw-cache"
    src = cfg.source
    assert (src.flavor, src.server_id) == ("mariadb", 4242)
    assert (src.host, src.port, src.user, src.password) == (
        "db.example", 3307, "repl", "replpw",
    )
    assert src.db_tables == {"shop": ["orders", "customers"]}
    assert src.allowlist == ["shop.orders", "shop.customers"]
    assert (src.read_timeout, src.heartbeat_period) == ("45s", "15s")
    assert (src.start_location.file, src.start_location.position) == (
        "mysql-bin.000007", 1234,
    )
    assert src.max_bytes_per_batch == 1024
    sh = cfg.sharding
    assert sh.enabled and (sh.count, sh.index) == (8, 3)
    assert sh.key_template == "{{ .db }}.{{ .table }}"
    hook = cfg.connector_by_name("hook")
    assert hook.type == "webhook"
    w = hook.webhook
    assert (w.url, w.method) == ("https://sink.example/ev", "PUT")
    assert w.headers == {"X-Team": "data"}
    assert (w.username, w.password, w.tls_skip_verify) == ("u1", "p1", True)
    bus = cfg.connector_by_name("bus")
    assert (bus.pubsub.project_id, bus.pubsub.topic_id) == ("proj-1", "topic-1")
    (route,) = cfg.routes
    assert (route.name, route.connector) == ("orders-route", "hook")
    assert route.operations == ["INSERT", "DELETE"]
    assert (route.db_table, route.template) == ("shop.orders", "{{ .db }}")


def test_template_go_parity_second_pass():
    """Parity edges from the round-5 second review: Go path.Clean collapses
    a POSIX double leading slash, abbrevboth under width 7 is identity,
    durationRound uses strict > at unit boundaries, empty-separator split
    is per-character, and float rendering follows Go %v."""
    assert compile_template('{{ clean "//a/b" }}')(ITEM) == "/a/b"
    assert compile_template('{{ dir "//a" }}')(ITEM) == "/"
    assert compile_template('{{ abbrevboth 3 6 "hello world" }}')(ITEM) == "hello world"
    assert compile_template('{{ durationRound "1h" }}')(ITEM) == "60m"
    assert compile_template('{{ durationRound "1m" }}')(ITEM) == "60s"
    assert compile_template('{{ durationRound 1 }}')(ITEM) == "0s"
    assert compile_template('{{ durationRound "24h1s" }}')(ITEM) == "1d"
    assert compile_template('{{ (split "" "abc")._1 }}')(ITEM) == "b"
    assert compile_template('{{ (splitn "" 2 "abc")._1 }}')(ITEM) == "bc"
    assert compile_template('{{ splitList "" "ab" | join "," }}')(ITEM) == "a,b"
    # Go %v float forms: scientific >= 1e6, shortest digits, -0 preserved
    assert compile_template("{{ float64 5 }}")(ITEM) == "5"
    assert compile_template("{{ mulf 123456.78 1.0 }}")(ITEM) == "123456.78"
    assert compile_template("{{ mulf 0.00001 1.0 }}")(ITEM) == "1e-05"


# --- sprig-v3 parity drift pin (VERDICT r05 #8) -------------------------

# The sprig v3.2 FuncMap (public function list, grouped as in the sprig
# docs), which the reference registers wholesale minus expandenv
# (tmpl.go:29-51). Every name must be accounted for below: registered in
# templates._FUNCS, deliberately excluded in templates._EXCLUDED_SPRIG, or
# pinned as documented-unsupported tail — so a sprig addition, an
# accidental deletion of a registered function, or a silent registration
# of a nondeterministic one all fail THIS test, loudly.
SPRIG_V3 = set(
    """
    abbrev abbrevboth trunc trim upper lower title untitle repeat substr
    nospace initials swapcase snakecase camelcase kebabcase wrap wrapWith
    contains hasPrefix hasSuffix quote squote cat indent nindent replace
    plural sha1sum sha256sum sha512sum adler32sum toString atoi int64 int
    float64 seq toDecimal until untilStep split splitList splitn toStrings
    sortAlpha join add add1 sub div mod mul max min maxf minf addf add1f
    subf divf mulf ceil floor round randInt biggest smallest now ago date
    dateInZone duration durationRound unixEpoch dateModify mustDateModify
    htmlDate htmlDateInZone toDate mustToDate default empty coalesce all
    any compact mustCompact fromJson mustFromJson toJson mustToJson
    toPrettyJson mustToPrettyJson toRawJson mustToRawJson ternary deepCopy
    mustDeepCopy typeOf typeIs typeIsLike kindOf kindIs deepEqual list
    first mustFirst rest mustRest last mustLast initial mustInitial append
    mustAppend prepend mustPrepend concat reverse mustReverse uniq
    mustUniq without mustWithout has mustHas slice mustSlice chunk
    mustChunk get set unset hasKey pluck dig merge mustMerge
    mergeOverwrite mustMergeOverwrite keys pick omit values dict b64enc
    b64dec b32enc b32dec base dir clean ext isAbs osBase osDir osClean
    osExt osIsAbs fail required regexMatch mustRegexMatch regexFindAll
    mustRegexFindAll regexFind mustRegexFind regexReplaceAll
    mustRegexReplaceAll regexReplaceAllLiteral mustRegexReplaceAllLiteral
    regexSplit mustRegexSplit regexQuoteMeta semver semverCompare uuidv4
    randAlphaNum randAlpha randAscii randNumeric randBytes shuffle
    derivePassword genPrivateKey buildCustomCert genCA genCAWithKey
    genSelfSignedCert genSelfSignedCertWithKey genSignedCert
    genSignedCertWithKey encryptAES decryptAES htpasswd bcrypt
    getHostByName urlParse urlJoin env expandenv kindIs
    """.split()
)

# sprig names the engine neither registers nor hard-excludes: the must*
# twins of registered list/dict/json functions (Go's must* variants differ
# only in error plumbing — the engine's compile-time validation plus
# render-time exceptions already give must semantics, so the plain forms
# are the single registered spelling). A template using one still fails
# fast at compile with the unsupported-function error.
SPRIG_UNSUPPORTED_TAIL = {
    "mustCompact", "mustFromJson", "mustToJson", "mustToPrettyJson",
    "mustToRawJson", "mustDeepCopy", "mustFirst", "mustRest", "mustLast",
    "mustInitial", "mustAppend", "mustPrepend", "mustReverse", "mustUniq",
    "mustWithout", "mustHas", "mustSlice", "mustChunk", "mustMerge",
    "mustMergeOverwrite",
}


def test_sprig_v3_map_fully_accounted():
    from binwatch_spark.streaming.templates import _EXCLUDED_SPRIG, _FUNCS

    registered = set(_FUNCS)
    excluded = set(_EXCLUDED_SPRIG)
    # no function may be both registered and excluded
    assert not registered & excluded
    # the unsupported tail must stay unsupported (registering a must* twin
    # without updating this pin = drift) and must not overlap exclusions
    assert not SPRIG_UNSUPPORTED_TAIL & registered
    assert not SPRIG_UNSUPPORTED_TAIL & excluded
    # every sprig-v3 name is accounted for: registered, excluded, or tail
    unaccounted = SPRIG_V3 - registered - excluded - SPRIG_UNSUPPORTED_TAIL
    assert not unaccounted, f"sprig functions unaccounted: {sorted(unaccounted)}"
    # and the exclusion set contains ONLY sprig names (a typo there would
    # silently stop guarding anything)
    assert excluded <= SPRIG_V3
    # every excluded name carries a family tag the compile error can name
    assert all(_EXCLUDED_SPRIG[n] for n in _EXCLUDED_SPRIG)


def test_registered_surface_snapshot_size():
    # The documented surface is 183 functions (README/SURVEY); deleting a
    # registration must fail loudly, not shrink silently. Additions bump
    # this pin in the same commit that documents them.
    from binwatch_spark.streaming.templates import _FUNCS

    assert len(_FUNCS) == 183


def test_source_columns_scalar_rejected():
    from binwatch_spark.config import ConfigError, parse

    import pytest as _pytest

    doc = {
        "server": {"id": "x"},
        "source": {"positionalRows": True, "columns": {"db.t": "id"}},
    }
    with _pytest.raises(ConfigError, match="must be a list"):
        parse(doc)


def test_seeded_random_family_deterministic_per_item():
    """seeded_random=True renders sprig's random family deterministically:
    same item → same values (replay-safe), different item → different
    stream, sprig's output shapes (uuid v4 bits, charsets, randInt range,
    base64 randBytes, string shuffle)."""
    import base64
    import re

    tpl = (
        '{"u":"{{ uuidv4 }}","a":"{{ randAlpha 8 }}",'
        '"n":"{{ randNumeric 4 }}","i":{{ randInt 10 20 }},'
        '"b":"{{ randBytes 6 }}","s":"{{ shuffle "abcdef" }}"}'
    )
    render = compile_template(tpl, seeded_random=True)
    item1 = {"ItemID": 1, "Log": {"BinlogFile": "f.1", "BinlogPosition": 4}}
    item2 = {"ItemID": 2, "Log": {"BinlogFile": "f.1", "BinlogPosition": 9}}
    out1a, out1b, out2 = render(item1), render(item1), render(item2)
    assert out1a == out1b  # replay-identical
    assert out1a != out2  # per-item stream

    import json as _json

    d = _json.loads(out1a)
    assert re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}",
        d["u"],
    )
    assert re.fullmatch(r"[A-Za-z]{8}", d["a"])
    assert re.fullmatch(r"[0-9]{4}", d["n"])
    assert 10 <= d["i"] < 20
    assert len(base64.b64decode(d["b"])) == 6
    assert sorted(d["s"]) == list("abcdef") and len(d["s"]) == 6


def test_seeded_random_off_by_default_with_hint():
    """Without the opt-in the random family still fails compile, and the
    error names the seededRandom route option; crypto stays excluded
    either way."""
    with pytest.raises(ValueError, match="seededRandom"):
        compile_template("{{ uuidv4 }}")
    with pytest.raises(ValueError, match="crypto"):
        compile_template("{{ genPrivateKey }}", seeded_random=True)


def test_seeded_random_reaches_parenthesised_sub_pipelines():
    render = compile_template("{{ (randAlpha 3) | upper }}", seeded_random=True)
    item = {"ItemID": 1, "Log": {"BinlogFile": "f.1", "BinlogPosition": 4}}
    out = render(item)
    assert re.fullmatch(r"[A-Z]{3}", out)
    assert render(item) == out
    with pytest.raises(ValueError, match="seededRandom"):
        compile_template("{{ (randAlpha 3) | upper }}")


def test_seeded_random_route_config_roundtrip():
    doc = {
        **BASE_DOC,
        "routes": [
            {
                "name": "r1",
                "connector": "c1",
                "template": '{"id":"{{ uuidv4 }}"}',
                "seededRandom": True,
            }
        ],
    }
    cfg = parse(doc)
    assert cfg.routes[0].seeded_random is True
    from binwatch_spark.streaming.pipeline import compile_routes

    routes = compile_routes(cfg)  # must not raise (opt-in honored)
    assert routes[0].seeded_random is True
    # same template WITHOUT the opt-in fails fast at build time
    doc["routes"][0].pop("seededRandom")
    with pytest.raises(ValueError, match="seededRandom"):
        compile_routes(parse(doc))


def test_seeded_random_family_arity_checked_at_compile_time():
    """Malformed seeded-random calls must fail at compile_template time
    (the fail-fast contract every other function gets via _MIN_ARITY), not
    per-event inside send_partition on executors."""
    for bad in ("{{ randAlpha }}", "{{ uuidv4 8 }}", "{{ randInt 10 }}",
                "{{ randBytes }}", "{{ shuffle }}"):
        with pytest.raises(ValueError, match="wrong number of args"):
            compile_template(bad, seeded_random=True)
    # well-formed calls still compile and render deterministically
    f = compile_template(
        '{{ randAlpha 3 }}|{{ uuidv4 }}|{{ randInt 1 5 }}|{{ "ab" | shuffle }}',
        seeded_random=True,
    )
    assert f(ITEM) == f(dict(ITEM))


def test_seeded_random_renders_are_thread_safe():
    """ADVICE r07 #4: concurrent seeded renders in one interpreter must
    not interleave RNG draws — each thread's output equals its serial
    render (the per-item determinism the feature exists to guarantee)."""
    import threading

    tpl = '{{ randAlpha 12 }}-{{ uuidv4 }}-{{ randInt 0 1000000 }}'
    render = compile_template(tpl, seeded_random=True)
    items = [
        {"ItemID": i, "Log": {"BinlogFile": "f.1", "BinlogPosition": i * 7}}
        for i in range(16)
    ]
    serial = [render(it) for it in items]

    results: dict[int, list[str]] = {}
    barrier = threading.Barrier(8)

    def worker(tid: int) -> None:
        barrier.wait()
        out = []
        for _ in range(20):
            for it in items:
                out.append(render(it))
        results[tid] = out

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    expected = serial * 20
    for tid, out in results.items():
        assert out == expected, f"thread {tid} saw interleaved RNG draws"
