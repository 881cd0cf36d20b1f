"""Parser unit tests: reference semantics parity.

Covers the rules from reference agent/pipeline/parser/parser.go +
util/regexp.go: search semantics, `_`-group discard, non-participating
group -> "", no-match -> discard (parse_ok=false), error_tolerant,
two-level labels, arrow/jvm engine agreement, and refusal of non-RE2
patterns.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row

from log_formatter_spark.operators.parser import (
    LabelRule,
    ParserConfig,
    apply_parser,
)

PAT = (
    r"(?P<ts_str>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) "
    r"(?P<level>[A-Z]+) \[(?P<tool_tag>\w*)\] (?P<body>.*) turn=(?P<turn_>\d+)"
)

GOOD = "2020-11-13 11:28:05 INFO [bash] hello world turn=17"
BAD = "2020-11-13 11:28:05 [bash] hello world turn=17"  # missing level


def _df(spark, texts):
    return spark.createDataFrame([Row(id=i, text=t) for i, t in enumerate(texts)])


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_extract_and_discard(spark, engine):
    df = apply_parser(_df(spark, [GOOD, BAD]), ParserConfig(PAT, engine=engine))
    rows = {r["id"]: r.asDict() for r in df.collect()}
    ok = rows[0]
    assert ok["parse_ok"] is True
    assert ok["ts_str"] == "2020-11-13 11:28:05"
    assert ok["level"] == "INFO"
    assert ok["tool_tag"] == "bash"
    assert ok["body"] == "hello world"
    assert "turn_" not in ok  # `_`-suffix discard (parser.go:99-104)
    bad = rows[1]
    assert bad["parse_ok"] is False
    assert bad["level"] is None and bad["body"] is None


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_search_not_fullmatch(spark, engine):
    # Go FindStringSubmatch matches anywhere in the string
    df = apply_parser(
        _df(spark, ["prefix junk " + GOOD + " suffix junk turn=9"]),
        ParserConfig(PAT, engine=engine),
    )
    r = df.collect()[0]
    assert r["parse_ok"] is True
    assert r["ts_str"] == "2020-11-13 11:28:05"


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_nonparticipating_group_empty_string(spark, engine):
    # Optional group that doesn't participate yields "" on a matched row
    # (Go parity, SURVEY.md §7.3), not null.
    pat = r"(?P<a>x)(?P<opt>y)?"
    df = apply_parser(_df(spark, ["x", "xy", "zzz"]), ParserConfig(pat, engine=engine))
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows[0]["parse_ok"] and rows[0]["opt"] == ""
    assert rows[1]["parse_ok"] and rows[1]["opt"] == "y"
    assert rows[2]["parse_ok"] is False and rows[2]["opt"] is None


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_error_tolerant(spark, engine):
    df = apply_parser(
        _df(spark, [GOOD, BAD]), ParserConfig(PAT, engine=engine, error_tolerant=True)
    )
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows[1]["parse_ok"] is True  # tolerated (parser.go:50-56)
    assert rows[1]["level"] is None


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_two_level_labels(spark, engine):
    # second-level extraction over the extracted `body` component
    # (parser.go:79-97); failure -> null label, not a discard.
    cfg = ParserConfig(
        PAT,
        engine=engine,
        labels=(LabelRule("body", (r"hello (?P<subject>\w+)",)),),
    )
    df = apply_parser(_df(spark, [GOOD, GOOD.replace("hello world", "goodbye moon")]), cfg)
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows[0]["subject"] == "world"
    assert rows[0]["parse_ok"] is True
    assert rows[1]["subject"] is None  # label failure is a warning only
    assert rows[1]["parse_ok"] is True


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_component_overwrites_label(spark, engine):
    # Field merge order (parser.go:79-104): label fields written before
    # component fields -> same-named component wins.
    cfg = ParserConfig(
        r"(?P<a>x\w) (?P<b>y\w)",
        engine=engine,
        labels=(LabelRule("b", (r"y(?P<a>\w)",)),),
    )
    df = apply_parser(_df(spark, ["x1 y2"]), cfg)
    r = df.collect()[0]
    assert r["a"] == "x1"  # component value, not label's "2"


def test_engines_agree(spark):
    texts = [GOOD, BAD, "", "no timestamps here", GOOD + " trailing turn=3"]
    a = apply_parser(_df(spark, texts), ParserConfig(PAT, engine="arrow"))
    j = apply_parser(_df(spark, texts), ParserConfig(PAT, engine="jvm"))
    assert sorted(map(str, a.collect())) == sorted(map(str, j.collect()))


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
@pytest.mark.parametrize(
    "pattern",
    [r"(?P<word>\w+)(?=!)", r"(?P<ch>\w)\1"],
    ids=["lookahead", "backreference"],
)
def test_non_re2_pattern_rejected(spark, engine, pattern):
    # Go's regexp (RE2) has neither; both engines refuse up front
    with pytest.raises(ValueError, match=re.escape(repr(pattern))):
        apply_parser(_df(spark, [GOOD]), ParserConfig(pattern, engine=engine))
