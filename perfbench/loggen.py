"""Seeded Fastly-format log generator with ground-truth tallies.

Pure Python (no Spark): the same ``seed`` and ``Shape`` give byte-identical
files, gzip members included (``mtime=0``, no stored file name).  Besides
the lines, the generator keeps tallies of the fields it encoded, so a
benchmark can check the pipeline's outputs without a second parser:

- ``rows``: non-blank lines, i.e. the rows the parser must emit;
- ``status``: status code -> rows, over rows whose status the parser
  recovers (every row here carries one);
- ``status_class``: route -> rows, the ``status_class`` routing rule;
- ``per_day``: ``YYYY-MM-DD`` -> rows with a recoverable timestamp.

What the parse and report costs depend on is varied on purpose:
Zipf-skewed paths, client IPs and user agents; a three-day time span, so
minute, hour and day rollups have realistic cardinality; status, cache
and query-parameter mixes; a share of lines that miss the strict
full-line pattern and go down the per-field fallback probes; some blank
and whitespace-only lines, which yield no row; and a share of ``.log.gz``
files, which Spark cannot split.
"""

from __future__ import annotations

import functools
import gzip
import itertools
import os
import random
from collections import Counter
from dataclasses import dataclass, field

START_EPOCH = 1762560000  # 2025-11-08T00:00:00Z
SPAN_S = 3 * 86400

_DAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

STATUS_MIX = ((200, 70), (304, 8), (301, 4), (404, 9), (403, 2),
              (429, 1), (500, 3), (502, 1), (503, 2))
CACHE_MIX = (("hit", 62), ("miss", 28), ("pass", 8), ("error", 1), ("synth", 1))
METHOD_MIX = (("GET", 86), ("POST", 9), ("HEAD", 3), ("PUT", 2))
SERVERS = tuple(f"cache-{pop}{i}" for pop in ("sjc", "lhr", "nrt", "fra") for i in range(1, 4))

_SECTIONS = ("api", "static", "img", "blog", "docs", "shop", "search", "user")
_EXTS = ("", ".js", ".css", ".png", ".json", ".html")
_PARAM_KEYS = ("page", "q", "sort", "lim", "off", "lang", "v", "ref", "id", "fmt")


FALLBACK_SHARE = 0.02  # lines that miss the full-line pattern
BLANK_SHARE = 0.004    # blank / whitespace-only lines
N_PATHS, N_IPS, N_UAS = 2000, 20000, 50
ZIPF_S = 1.1


@dataclass(frozen=True)
class Shape:
    """How much to generate."""

    lines: int
    files: int
    gz_share: float = 0.0  # share of files written as .log.gz


@dataclass
class Tally:
    rows: int = 0
    status: Counter = field(default_factory=Counter)
    status_class: Counter = field(default_factory=Counter)
    per_day: Counter = field(default_factory=Counter)

    def add(self, status: int, epoch: int) -> None:
        self.rows += 1
        self.status[status] += 1
        self.status_class[f"{status // 100}xx"] += 1
        self.per_day[_day(epoch)] += 1

    def as_dict(self) -> dict:
        return {
            "rows": self.rows,
            "status": {str(k): v for k, v in sorted(self.status.items())},
            "status_class": dict(sorted(self.status_class.items())),
            "per_day": dict(sorted(self.per_day.items())),
        }


def _day(epoch: int) -> str:
    return _date_parts(epoch // 86400)[0]


@functools.lru_cache(maxsize=None)
def _date_parts(days: int) -> tuple[str, str]:
    """(YYYY-MM-DD, 'Ddd, DD Mon YYYY') for days since 1970-01-01
    (Howard Hinnant's civil-from-days)."""
    z = days + 719468
    era, doe = divmod(z, 146097)
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    y = yoe + era * 400 + (m <= 2)
    return f"{y:04d}-{m:02d}-{d:02d}", f"{_DAYS[(days + 3) % 7]}, {d:02d} {_MONTHS[m - 1]} {y:04d}"


def _civil(epoch: int) -> tuple[str, str]:
    """(ISO-8601 timestamp, RFC 1123 date) for a UTC epoch."""
    days, rem = divmod(epoch, 86400)
    ymd, dmy = _date_parts(days)
    hms = f"{rem // 3600:02d}:{rem // 60 % 60:02d}:{rem % 60:02d}"
    return f"{ymd}T{hms}Z", f"{dmy} {hms} GMT"


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))


def _mix(rng: random.Random, mix, k: int) -> list:
    values, weights = zip(*mix)
    return rng.choices(values, weights=weights, k=k)


def _vocab(rng: random.Random) -> tuple[list[str], list[str], list[str]]:
    paths = []
    for i in range(N_PATHS):
        sec = _SECTIONS[rng.randrange(len(_SECTIONS))]
        paths.append(f"/{sec}/{i:04d}/item{rng.randrange(100)}{_EXTS[rng.randrange(len(_EXTS))]}")
    ips = [f"{rng.randrange(1, 224)}.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
           for _ in range(N_IPS)]
    uas = []
    for i in range(N_UAS):
        if i % 5 == 4:
            uas.append(f"curl/8.{i % 10}.{i % 3}")
        elif i % 7 == 6:
            uas.append(f"python-requests/2.{20 + i % 12}")
        else:
            uas.append(f"Mozilla/5.0 (X11; Linux x86_64; rv:{100 + i}.0) Gecko/20100101 Firefox/{100 + i}.0")
    return paths, ips, uas


def _query(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.55:
        return ""
    n = 1 if r < 0.8 else rng.randrange(2, 6)
    parts = []
    for _ in range(n):
        key = _PARAM_KEYS[min(int(rng.expovariate(0.6)), len(_PARAM_KEYS) - 1)]
        if rng.random() < 0.05:
            parts.append(key)  # bare key: kept in query_string, not in the map
        else:
            parts.append(f"{key}={rng.randrange(1, 40)}")
    return "?" + "&".join(parts)


def generate(out_dir: str, seed: int, shape: Shape) -> tuple[list[str], Tally]:
    """Write ``shape.files`` log files under ``out_dir``; return their
    paths (sorted) and the tally of what the parser must recover."""
    rng = random.Random(seed)
    paths, ips, uas = _vocab(rng)
    path_cum = _zipf_cum(len(paths), ZIPF_S)
    ip_cum = _zipf_cum(len(ips), ZIPF_S)
    ua_cum = _zipf_cum(len(uas), ZIPF_S)
    n_gz = round(shape.files * shape.gz_share)
    os.makedirs(out_dir, exist_ok=True)
    tally = Tally()
    written = []
    per_file = [shape.lines // shape.files + (i < shape.lines % shape.files)
                for i in range(shape.files)]
    for fi, n in enumerate(per_file):
        epochs = sorted(START_EPOCH + rng.randrange(SPAN_S) for _ in range(n))
        p_sel = rng.choices(paths, cum_weights=path_cum, k=n)
        ip_sel = rng.choices(ips, cum_weights=ip_cum, k=n)
        ua_sel = rng.choices(uas, cum_weights=ua_cum, k=n)
        st_sel = _mix(rng, STATUS_MIX, n)
        ca_sel = _mix(rng, CACHE_MIX, n)
        me_sel = _mix(rng, METHOD_MIX, n)
        lines = []
        for j in range(n):
            r = rng.random()
            if r < BLANK_SHARE:
                lines.append(" " * rng.randrange(3))
                continue
            ep, st = epochs[j], st_sel[j]
            iso, rfc = _civil(ep)
            size = int(rng.lognormvariate(8.5, 1.4)) if st != 304 else 0
            srv = SERVERS[rng.randrange(len(SERVERS))]
            req = f"{me_sel[j]} {p_sel[j]}{_query(rng)}"
            if r < BLANK_SHARE + FALLBACK_SHARE:
                # no <priority>: the strict pattern misses and every field
                # comes from its fallback probe (timestamp, IP, request,
                # first " NNN " status, size, Mozilla UA, trailing cache)
                lines.append(f'{iso} {srv} s3logsprod[{1000 + fi}]: {ip_sel[j]} '
                             f'"{req}" {st} {size} "{ua_sel[j]}" {ca_sel[j]}')
            else:
                lines.append(f'<{134 + rng.randrange(4)}>{iso} {srv} s3logsprod[{1000 + fi}]: '
                             f'{ip_sel[j]} "-" "-" {rfc} "{req}" {st} {size} "-" '
                             f'"{ua_sel[j]}" {ca_sel[j]}')
            tally.add(st, ep)
        body = ("\n".join(lines) + "\n").encode()
        gz = fi < n_gz
        path = os.path.join(out_dir, f"part-{fi:03d}.log" + (".gz" if gz else ""))
        with open(path, "wb") as f:
            if gz:
                with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0, compresslevel=1) as z:
                    z.write(body)
            else:
                f.write(body)
        written.append(path)
    return sorted(written), tally
