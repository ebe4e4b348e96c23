"""Parser regression golden: the batch parser ``parse_lines_pdf`` must
reproduce the committed ``parse_log_line`` records in
``golden/parse_fixture_lines.json`` for the 16 ``FIXTURE_LINES`` and for
~500 seeded lines, malformed ones included.  The Spark stage
(``parse_logs``) must in turn return what ``parse_lines_pdf`` returns on
the same lines.

The golden was frozen from this package's own parser, not from the
reference parser, so it guards against regressions only; byte-parity
with the reference is the job of test_parse_parity / test_parse_property
when the reference is available.  After an intentional parser change,
regenerate it with ``python tests/test_parse_golden.py``.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from conftest import FIXTURE_LINES  # noqa: E402

from python_fastly_log_query_spark.operators.parse import (  # noqa: E402
    parse_lines_pdf,
    parse_log_line,
    row_record,
)

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden",
                      "parse_fixture_lines.json")
SEED = 20251109

_FRAGMENTS = [
    "<134>", "<9>", "2025-11-09T23:57:35Z", "2025-99-09T23:57:35Z",
    "cache-sjc-1", "proc[42]:", "10.0.0.1", "999.1.2.3",
    '"-"', '""', '"GET /a?b=c&d"', '"POST /x"', '"get /l"',
    "200", "404 12345", '"Mozilla/5.0 (fuzz) AppleWebKit"',
    '"short"', '"a string longer than twenty chars"',
    "hit", "miss", "pass", "synth", "error", "?", "&", "=", "\t",
]
_UAS = [
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/118.0",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 Chrome/118.0",
    "python-requests/2.31.0", "curl/8.4.0", "", "-",
]
_QUERIES = ["", "?page=3", "?q=a&q=b", "?a=1&bare&c=x=y", "?", "?ü=v&x="]


def _wellformed(rng: random.Random) -> str:
    month = rng.choice(["11", "11", "11", "13"])  # 13: timestamp fails to parse
    ts = (f"2025-{month}-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
          f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")
    ip = ".".join(str(rng.randint(0, 255)) for _ in range(4))
    method = rng.choice(["GET", "GET", "POST", "PUT", "DELETE", "get"])
    path = rng.choice(["/", "/api/items", "/static/app.js", "/päth", "/a b"])
    return (
        f"<{rng.randint(0, 191)}>{ts} cache-{rng.choice(['sjc', 'lhr', 'x'])}-"
        f"{rng.randint(1, 99)} s3logsprod[{rng.randint(1, 99999)}]: {ip} "
        f'"{rng.choice(["-", "", "ref"])}" "-" {rng.choice(["-", "Sun, 09 Nov 2025"])} '
        f'"{method} {path}{rng.choice(_QUERIES)}" {rng.choice([200, 301, 404, 500, 99])} '
        f'{rng.randint(0, 10**6)} "-" "{rng.choice(_UAS)}" '
        f"{rng.choice(['hit', 'miss', 'pass', 'error', 'synth', 'HIT', ''])}"
    )


def _mutated(rng: random.Random) -> str:
    line = _wellformed(rng)
    kind = rng.randrange(4)
    if kind == 0:  # truncate
        return line[: rng.randrange(len(line))]
    if kind == 1:  # drop one token
        toks = line.split(" ")
        del toks[rng.randrange(len(toks))]
        return " ".join(toks)
    if kind == 2:  # strip the quotes
        return line.replace('"', "")
    return line + rng.choice([" trailing junk", "\t", ' "extra"'])


def seeded_lines(n: int = 500, seed: int = SEED) -> list[str]:
    """Deterministic mix: 40% well-formed, 30% mutated well-formed, 20%
    fragment soup, 10% noise (blank, whitespace, unicode)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        r = i % 10
        if r < 4:
            out.append(_wellformed(rng))
        elif r < 7:
            out.append(_mutated(rng))
        elif r < 9:
            out.append(" ".join(rng.choice(_FRAGMENTS)
                                for _ in range(rng.randint(0, 12))))
        else:
            alphabet = "abc XYZ 0123456789\"<>[]:?&=-.\tüé…"
            out.append("".join(rng.choice(alphabet)
                               for _ in range(rng.randint(0, 60))))
    return out


def _check(section: str) -> None:
    with open(GOLDEN) as f:
        cases = json.load(f)[section]
    pdf = parse_lines_pdf(pd.Series([c["line"] for c in cases]))
    for i, case in enumerate(cases):
        assert row_record(pdf.iloc[i]) == case["record"], (section, i, case["line"])


def test_fixture_lines_match_golden():
    with open(GOLDEN) as f:
        assert [c["line"] for c in json.load(f)["fixture_lines"]] == FIXTURE_LINES
    _check("fixture_lines")


def test_seeded_lines_match_golden():
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert [c["line"] for c in golden["seeded_lines"]] == seeded_lines(
        len(golden["seeded_lines"]), golden["seed"]
    )
    assert any(c["record"] is None for c in golden["seeded_lines"])
    _check("seeded_lines")


def test_spark_stage_matches_local_function(spark):
    """The ONE Arrow-batched ``mapInArrow`` stage returns, field by field, what
    ``parse_lines_pdf`` gives on the same lines: the Arrow round trip
    loses nothing (``query_params`` included), the passthrough column
    survives and blank lines are dropped."""
    from pyspark.sql import functions as F

    from python_fastly_log_query_spark.operators.parse import parse_logs

    lines = FIXTURE_LINES + seeded_lines()
    df = spark.createDataFrame(
        [(f"file-{i}", ln) for i, ln in enumerate(lines)],
        "source_file string, text string",
    )
    out = parse_logs(df, "text", passthrough=["source_file"]).withColumn(
        "timestamp", F.regexp_replace(F.col("timestamp").cast("string"), " ", "T")
    )
    got = {}
    for row in out.collect():
        rec = row.asDict()
        key = rec.pop("source_file")
        got[key] = {k: v for k, v in rec.items() if v is not None}
    pdf = parse_lines_pdf(pd.Series(lines))
    want = {f"file-{i}": row_record(pdf.iloc[i]) for i in range(len(lines))}
    assert any(v is None for v in want.values())
    assert got == {k: v for k, v in want.items() if v is not None}


def _write_golden() -> None:
    def cases(lines):
        return [{"line": ln, "record": parse_log_line(ln)} for ln in lines]

    golden = {
        "about": (
            "REGRESSION golden, not a reference golden: parse_log_line output "
            "of this package's parser, frozen so parser changes show up. It "
            "was not produced by the reference parser."
        ),
        "seed": SEED,
        "fixture_lines": cases(FIXTURE_LINES),
        "seeded_lines": cases(seeded_lines()),
    }
    def dump(val):
        if not isinstance(val, list):
            return json.dumps(val, ensure_ascii=False)
        rows = ",\n".join(
            "  " + json.dumps(c, ensure_ascii=False, sort_keys=True) for c in val
        )
        return f"[\n{rows}\n ]"

    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:  # one case per line: reviewable diffs
        body = ",\n".join(f" {json.dumps(k)}: {dump(v)}" for k, v in golden.items())
        f.write("{\n" + body + "\n}\n")


if __name__ == "__main__":
    _write_golden()
