"""Focused tests for the Arrow-native normalize path (r06 optimization:
pandas UDF → arrow_udf with an NFC quick-check; guide §4)."""

from __future__ import annotations

import unicodedata

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tap_github_search_spark.functions.normalize import (
    _NFC_SUSPECT_TABLE,
    _nfc_suspect_ranges,
    _normalize_arrow,
    normalized,
)


def _parse_table() -> list[tuple[int, int]]:
    out = []
    for item in _NFC_SUSPECT_TABLE.rstrip(",").split(","):
        if "-" in item:
            a, b = item.split("-")
            out.append((int(a, 16), int(b, 16)))
        else:
            v = int(item, 16)
            out.append((v, v))
    return out


def _merged(ranges) -> list[tuple[int, int]]:
    merged: list[tuple[int, int]] = []
    for a, b in sorted(ranges):
        if merged and a <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], b))
        else:
            merged.append((a, b))
    return merged


def test_frozen_table_matches_generator():
    """The frozen quick-check table must be exactly what this
    interpreter's unicodedata derives — drift means the Unicode tables
    changed and the literal needs regeneration."""
    assert _merged(_parse_table()) == _merged(_nfc_suspect_ranges())


REF_CASES = [
    "plain ascii only",
    "épée café 用户",                      # composed (NFC already)
    "épée",                    # decomposed → must compose
    "abc\x00def\x00",                      # NUL strip
    "Ω ohm Å angstrom",          # singleton decompositions
    "각",                  # hangul jamo → syllable
    "mixed é and \x00 and 用户",
    "",
    None,
]


def test_arrow_matches_python_reference():
    arr = pa.array(REF_CASES, pa.string())
    got = _normalize_arrow(arr).to_pylist()
    want = [
        None if x is None
        else unicodedata.normalize("NFC", x.replace("\x00", ""))
        for x in REF_CASES
    ]
    assert got == want


def test_chunked_array_input():
    ch = pa.chunked_array([
        pa.array(["é", "plain"]), pa.array(["caf\x00é"]),
    ])
    got = _normalize_arrow(ch)
    assert got.to_pylist() == ["é", "plain", "café"]


def test_spark_column_form(spark):
    df = spark.createDataFrame([(x,) for x in REF_CASES], "text string")
    rows = df.select("text", normalized("text").alias("n")).collect()
    for r in rows:
        want = (
            None if r["text"] is None
            else unicodedata.normalize("NFC", r["text"].replace("\x00", ""))
        )
        assert r["n"] == want


def test_fast_path_is_zero_copy():
    """An all-clean batch returns the NUL-stripped array itself (no
    Python-object round trip)."""
    arr = pa.array(["plain", "épée café"], pa.string())
    out = _normalize_arrow(arr)
    # equality is what matters; identity of values proves passthrough
    assert out.to_pylist() == ["plain", "épée café"]


def test_plan_has_no_batch_eval_python(spark):
    """The normalize column must evaluate as ArrowEvalPython (vectorized),
    never BatchEvalPython (row-at-a-time pickling)."""
    df = spark.createDataFrame([("x",)], "text string").select(
        normalized("text").alias("t")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def _canonical_pairs() -> list[str]:
    """Every two-codepoint canonical decomposition, as its decomposed
    string (the input NFC must compose back)."""
    out = []
    for c in range(0x110000):
        if 0xD800 <= c <= 0xDFFF:
            continue
        d = unicodedata.decomposition(chr(c)).split()
        if len(d) == 2 and not d[0].startswith("<"):
            out.append(chr(int(d[0], 16)) + chr(int(d[1], 16)))
    return out


def test_canonical_pairs_and_hangul_match_unicodedata():
    """Checked against unicodedata directly, not the table generator:
    every canonical pair (including NFC_QC=Maybe second elements with
    ccc=0, e.g. U+09C7 U+09BE -> U+09CB) and Hangul LV + T must come
    out exactly as NFC."""
    cases = _canonical_pairs()
    assert len(cases) > 1000
    cases += ["অ" + p for p in cases[:50]]  # after a base letter
    cases += [chr(lv) + chr(t) for lv in range(0xAC00, 0xD7A4, 28)
              for t in range(0x11A8, 0x11C3)]
    got = _normalize_arrow(pa.array(cases, pa.string())).to_pylist()
    want = [unicodedata.normalize("NFC", x) for x in cases]
    bad = [(x, g) for x, g, w in zip(cases, got, want) if g != w]
    assert not bad, bad[:5]
