"""The edge-list text reader against the reference's parse rule, its
argument checks, and the plan shape the parse relies on."""

from __future__ import annotations

import re

import pytest

from mapreduce_citation_spark.plans import assert_in_plan, assert_not_in_plan
from mapreduce_citation_spark.sources.edgelist_datasource import (
    EdgeListSimpleStreamReader,
    register_edgelist_source,
)
from mapreduce_citation_spark.sources.readers import read_edges_text


def reference_parse(lines, sep, comment="#"):
    """The reference's rule (mapper.py:74-80) in plain Python: trim
    spaces, skip blank and comment lines, split on the literal ``sep``,
    keep exactly two non-empty fields. Returns (valid edges, trimmed
    malformed lines)."""
    good, bad = [], []
    for raw in lines:
        line = raw.strip(" ")
        if not line or line.startswith(comment):
            continue
        fields = line.split(sep)
        if len(fields) == 2 and all(fields):
            good.append(tuple(fields))
        else:
            bad.append(line)
    return good, bad


def noisy_lines(s):
    """Valid rows plus every noise shape perfbench/gen.py plants, with
    ``s`` as the separator, and non-ASCII IDs (``instr``/``substr``
    count characters, not bytes)."""
    return [
        "# Directed graph: citations.txt",
        f"9201001{s}9301002",
        f"9201002{s}9301002",
        "",  # blank
        "   ",  # space-only
        "# checkpoint 9201003",  # comment
        "9201003",  # one field
        f"9201004{s}9301002{s}9201004",  # three fields
        f"{s}9301002",  # leading separator
        f"9201005{s}",  # trailing separator
        "9201006 9301002",  # space-separated
        f"  9201007{s}9301003 ",  # space-padded
        f"9201008{s}{s}9301003",  # empty middle field
        f"π-1701{s}論文-42",
        f"論文-42{s}9301003",
        f"  ünï{s}π-1701  ",
    ]


def _write(tmp_path, lines, name="edges.txt"):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return str(p)


@pytest.mark.parametrize("sep", ["\t", "|", "::", "→"])
def test_text_reader_matches_reference_rule(spark, tmp_path, sep):
    lines = noisy_lines(sep)
    path = _write(tmp_path, lines)
    good, bad = reference_parse(lines, sep)
    assert len(good) == 6 and len(bad) == 6

    dropped = read_edges_text(spark, path, sep=sep, malformed="drop")
    assert sorted(map(tuple, dropped.collect())) == sorted(good)

    kept = read_edges_text(spark, path, sep=sep, malformed="keep")
    assert sorted(map(tuple, kept.collect()), key=repr) == sorted(
        good + [(None, None)] * len(bad), key=repr
    )

    with pytest.raises(Exception, match="malformed edge row: "):
        read_edges_text(spark, path, sep=sep, malformed="fail").collect()


@pytest.mark.parametrize(
    "bad",
    ["9201003", "9201004\t9301002\t9201004", "\t9301002", "9201005\t",
     "9201006 9301002", "9201008\t\t9301003"],
)
def test_fail_policy_names_the_whole_line(spark, tmp_path, bad):
    path = _write(tmp_path, ["9201001\t9301002", f"  {bad} ", "9201002\t9301002"])
    with pytest.raises(Exception) as exc:
        read_edges_text(spark, path, malformed="fail").collect()
    assert f"malformed edge row: {bad.strip(' ')}" in str(exc.value)


@pytest.mark.parametrize("sep", ["|", ".", "::"])
def test_readers_agree_on_literal_separator(spark, tmp_path, sep):
    """``sep`` is a literal string in every reader: regex
    metacharacters and multi-character separators split as written."""
    register_edgelist_source(spark)
    lines = ["# header", f"a{sep}b", "", f"c{sep}d", "e", f"f{sep}g{sep}h"]
    path = _write(tmp_path, lines)
    text = read_edges_text(spark, path, sep=sep)
    source = spark.read.format("edgelist").option("path", path).option("sep", sep).load()
    for df in (text, source):
        assert sorted(map(tuple, df.collect())) == [("a", "b"), ("c", "d")]


def test_connector_trims_like_text_reader(spark, tmp_path):
    """The batch and stream connectors parse a line as ``read_edges_text``
    does: the line terminator (LF or CRLF) goes, then spaces only — a
    tab or vertical tab at either end stays part of the line."""
    register_edgelist_source(spark)
    path = tmp_path / "edges.txt"
    path.write_bytes(b"a\tb\t\n\tc\td\ne\tf\x0b\ng\th\ni\tj\r\n k\tl \r\n")
    want = [("e", "f\x0b"), ("g", "h"), ("i", "j"), ("k", "l")]
    assert sorted(map(tuple, read_edges_text(spark, str(path)).collect())) == want
    for splits in (1, 3):
        batch = (
            spark.read.format("edgelist")
            .option("path", str(path))
            .option("splits", str(splits))
            .load()
        )
        assert sorted(map(tuple, batch.collect())) == want, f"splits={splits}"
    stream = EdgeListSimpleStreamReader({"path": str(path)})
    rows, end = stream.read(stream.initialOffset())
    assert sorted(rows) == want and end == {"line": 6}


@pytest.mark.parametrize(
    "kwargs, message",
    [
        ({"sep": ""}, "sep must be a non-empty string"),
        ({"comment": ""}, "comment must be a non-empty string"),
        ({"malformed": "skip"}, "malformed policy must be drop|fail|keep"),
    ],
)
def test_reader_rejects_bad_arguments_before_reading(spark, tmp_path, kwargs, message):
    # the path does not exist: a check made after the scan is built
    # would fail on the path instead
    missing = str(tmp_path / "missing.txt")
    with pytest.raises(ValueError, match=re.escape(message)):
        read_edges_text(spark, missing, **kwargs)


@pytest.mark.parametrize("malformed", ["drop", "fail", "keep"])
def test_parse_plan_uses_instr_not_split(spark, tmp_path, malformed):
    path = _write(tmp_path, ["1\t2"])
    df = read_edges_text(spark, path, malformed=malformed)
    assert_not_in_plan(df, "split(")
    assert_in_plan(df, "instr(")
