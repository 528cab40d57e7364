"""Vectorized text normalization (Arrow-native UDF — no per-row Python
on the hot path, no pandas object-dtype materialization).

The per-row invariant "per-turn text equality" (BASELINE.json input_hint)
is *defined* through this function:

    normalize(text) = NFC( text with NUL bytes removed )

Reference analog: control-char sanitization in ``post_process``
(/root/reference/tap_github/repository_streams.py:884-900, 978-987,
1281-1296 — strips ``\\x00`` from title/body for Postgres safety).

DuckDB-oracle equivalent (used by __spark_entry__.oracle_sql):
    nfc_normalize(replace(text, chr(0), ''))

Implementation (optimization-round r06; guide §4 "UDFs and the Python
boundary"):

The previous implementation was a pandas UDF whose Arrow→pandas
conversion materialized one Python ``str`` object per row on BOTH sides
of the boundary — measured ~3.5 s of the 9 s ``cdc_replay_transcripts``
at sf1.0, dwarfing the actual normalize work. The Arrow-native scalar
UDF (``arrow_udf``, Spark 4) keeps batches as ``pyarrow`` arrays:

 1. NUL strip: ``pc.replace_substring`` — vectorized C, zero copies
    when nothing matches.
 2. NFC: ``pc.utf8_normalize`` is NOT usable — the sandbox's pyarrow
    build returns *decomposed* output for ``form="NFC"`` (verified:
    composed ``é`` comes back as ``e + U+0301``). Instead, a single
    vectorized RE2 scan flags rows containing any codepoint that could
    change under NFC (the conservative quick-check class below); rows
    with no such codepoint — in practice almost every row — pass
    through untouched with no Python-object round trip. Only flagged
    rows pay ``unicodedata.normalize`` (the same library the old
    pandas path used on *every* row).

The quick-check class is the standard NFC quick-check idea (UAX #15
§9): a string is guaranteed NFC-invariant when none of its codepoints
is (a) a combining mark (canonical combining class > 0 — may reorder
or compose), (b) the second element of a canonical pair (NFC_QC=Maybe:
composes with the character before it even at ccc=0, e.g. U+09BE),
(c) a Hangul jamo (composes with ccc=0), or (d) a singleton whose NFC
differs (e.g. U+2126 OHM SIGN). The table is
generated from Python's own ``unicodedata`` by
``_nfc_suspect_ranges()`` and frozen here as a literal so Python
workers don't re-derive it at import; ``tests`` re-generate and
compare (drift would mean the interpreter's Unicode tables changed).
"""

from __future__ import annotations

import unicodedata

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf


def _nfc_suspect_ranges() -> list[tuple[int, int]]:
    """Regenerate the NFC quick-check codepoint ranges from the running
    interpreter's ``unicodedata`` (test/verification path; the UDF uses
    the frozen ``_NFC_SUSPECT_TABLE`` literal below)."""
    codepoints = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    # second elements of canonical pairs (NFC_QC=Maybe): they compose
    # with the character BEFORE them, e.g. U+09C7 + U+09BE -> U+09CB,
    # yet many have ccc=0 and are NFC on their own
    composers = set()
    for c in codepoints:
        d = unicodedata.decomposition(chr(c)).split()
        if len(d) == 2 and not d[0].startswith("<"):
            composers.add(int(d[1], 16))
    ranges: list[list[int]] = []
    cur: list[int] | None = None
    for c in codepoints:
        ch = chr(c)
        bad = (
            unicodedata.combining(ch) != 0
            or c in composers
            or 0x1100 <= c <= 0x11FF
            or 0xA960 <= c <= 0xA97F
            or 0xD7B0 <= c <= 0xD7FF
            or not unicodedata.is_normalized("NFC", ch)
        )
        if bad:
            if cur is None:
                cur = [c, c]
            elif c == cur[1] + 1:
                cur[1] = c
            else:
                ranges.append(cur)
                cur = [c, c]
    if cur is not None:
        ranges.append(cur)
    return [(a, b) for a, b in ranges]


#: frozen output of ``_nfc_suspect_ranges()`` (hex, ``a`` or ``a-b``):
_NFC_SUSPECT_TABLE = (
    "300-34e,350-36f,374,37e,387,483-487,591-5bd,5bf,5c1-5c2,5c4-5c5,5c7,"
    "610-61a,64b-65f,670,6d6-6dc,6df-6e4,6e7-6e8,6ea-6ed,711,730-74a,"
    "7eb-7f3,7fd,816-819,81b-823,825-827,829-82d,859-85b,898-89f,8ca-8e1,"
    "8e3-8ff,93c,94d,951-954,958-95f,9bc,9be,9cd,9d7,9dc-9dd,9df,9fe,a33,"
    "a36,a3c,a4d,a59-a5b,a5e,abc,acd,b3c,b3e,b4d,b56-b57,b5c-b5d,bbe,bcd,"
    "bd7,c3c,c4d,c55-c56,cbc,cc2,ccd,cd5-cd6,d3b-d3c,d3e,d4d,d57,dca,dcf,"
    "ddf,e38-e3a,e48-e4b,eb8-eba,ec8-ecb,f18-f19,f35,f37,f39,f43,f4d,f52,"
    "f57,f5c,f69,f71-f76,f78,f7a-f7d,f80-f84,f86-f87,f93,f9d,fa2,fa7,fac,"
    "fb5,fb7,fb9,fc6,102e,1037,1039-103a,108d,1100-11ff,135d-135f,"
    "1714-1715,1734,17d2,17dd,18a9,1939-193b,1a17-1a18,1a60,1a75-1a7c,"
    "1a7f,1ab0-1abd,1abf-1ace,1b34-1b35,1b44,1b6b-1b73,1baa-1bab,1be6,"
    "1bf2-1bf3,1c37,1cd0-1cd2,1cd4-1ce0,1ce2-1ce8,1ced,1cf4,1cf8-1cf9,"
    "1dc0-1dff,1f71,1f73,1f75,1f77,1f79,1f7b,1f7d,1fbb,1fbe,1fc9,1fcb,"
    "1fd3,1fdb,1fe3,1feb,1fee-1fef,1ff9,1ffb,1ffd,2000-2001,20d0-20dc,"
    "20e1,20e5-20f0,2126,212a-212b,2329-232a,2adc,2cef-2cf1,2d7f,"
    "2de0-2dff,302a-302f,3099-309a,a66f,a674-a67d,a69e-a69f,a6f0-a6f1,"
    "a806,a82c,a8c4,a8e0-a8f1,a92b-a92d,a953,a960-a97f,a9b3,a9c0,aab0,"
    "aab2-aab4,aab7-aab8,aabe-aabf,aac1,aaf6,abed,d7b0-d7ff,f900-fa0d,"
    "fa10,fa12,fa15-fa1e,fa20,fa22,fa25-fa26,fa2a-fa6d,fa70-fad9,"
    "fb1d-fb1f,fb2a-fb36,fb38-fb3c,fb3e,fb40-fb41,fb43-fb44,fb46-fb4e,"
    "fe20-fe2f,101fd,102e0,10376-1037a,10a0d,10a0f,10a38-10a3a,10a3f,"
    "10ae5-10ae6,10d24-10d27,10eab-10eac,10f46-10f50,10f82-10f85,11046,"
    "11070,1107f,110b9-110ba,11100-11102,11127,11133-11134,11173,111c0,"
    "111ca,11235-11236,112e9-112ea,1133b-1133c,1133e,1134d,11357,"
    "11366-1136c,11370-11374,11442,11446,1145e,114b0,114ba,114bd,"
    "114c2-114c3,115af,115bf-115c0,1163f,116b6-116b7,1172b,11839-1183a,"
    "11930,1193d-1193e,11943,119e0,11a34,11a47,11a99,11c3f,11d42,"
    "11d44-11d45,11d97,16af0-16af4,16b30-16b36,16ff0-16ff1,1bc9e,"
    "1d15e-1d169,1d16d-1d172,1d17b-1d182,1d185-1d18b,1d1aa-1d1ad,"
    "1d1bb-1d1c0,1d242-1d244,1e000-1e006,1e008-1e018,1e01b-1e021,"
    "1e023-1e024,1e026-1e02a,1e130-1e136,1e2ae,1e2ec-1e2ef,1e8d0-1e8d6,"
    "1e944-1e94a,2f800-2fa1d,"
)


def _suspect_regex() -> str:
    """RE2 character class matching any NFC-suspect codepoint."""
    parts = []
    for item in _NFC_SUSPECT_TABLE.rstrip(",").split(","):
        if "-" in item:
            a, b = item.split("-")
            parts.append("\\x{%X}-\\x{%X}" % (int(a, 16), int(b, 16)))
        else:
            parts.append("\\x{%X}" % int(item, 16))
    return "[" + "".join(parts) + "]"


_SUSPECT_RE = _suspect_regex()


def _normalize_arrow(s: pa.Array | pa.ChunkedArray):
    """NUL-strip + NFC over an Arrow array, all-C on the common path."""
    arr = pc.replace_substring(s, "\x00", "")
    flagged = pc.match_substring_regex(arr, _SUSPECT_RE)
    if not pc.any(flagged).as_py():
        return arr
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
        flagged = flagged.combine_chunks()
    out = [
        x
        if (x is None or not f)
        else unicodedata.normalize("NFC", x)
        for x, f in zip(arr.to_pylist(), flagged.to_pylist())
    ]
    return pa.array(out, pa.string())


# Type object (not DDL string) so decoration works before any session exists.
@arrow_udf(T.StringType())
def normalize_text(s: pa.Array) -> pa.Array:
    """NUL-strip + Unicode NFC, vectorized over Arrow batches — the
    mandated vectorized path (SURVEY.md §2.12); see module docstring
    for why NFC is a quick-check + rare Python fallback."""
    return _normalize_arrow(s)


def normalized(col: str | Column = "text") -> Column:
    """Column expression form, for use inside select/withColumn."""
    c = F.col(col) if isinstance(col, str) else col
    return normalize_text(c)
