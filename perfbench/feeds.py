"""Seeded NVD 1.1 feed generator for the benchmark.

Every item is built by ``tests/fixtures/nvd/make_fixtures.py::_item``, so
the generated feeds carry the real four nesting levels
(``configurations.nodes[].children[].cpe_match[]``) and the unknown keys
that schema projection must drop. The generator also returns the counts
the benchmark's output checks compare against.

Two kinds of input, both listing each CVE once, as NVD's feeds do:

- year feeds 2002..2026, one gz document each, later years larger
  (about 2.0k to 9.2k CVEs). Each CVE's ``publishedDate`` falls in its
  year; in the current year (2026) the CVEs arrive at ``CVES_PER_DAY``
  from 1 January up to the bootstrap instant (``bootstrap_time``);
- ``recent`` feeds, one per refresh pass. NVD's 1.1 ``recent`` feed
  holds the CVEs published in the previous eight days, and the
  reference refetches it every 20 minutes (``cronjob.yml:6``). So pass
  ``k`` runs at ``bootstrap_time + 20 min * (k + 1)`` and its feed is
  the eight-day window of current-year CVEs up to that instant. After
  the bootstrap, new CVEs arrive as a seeded Poisson process at
  ``CVES_PER_DAY`` (about 1.5 per pass). A pass's new IDs are those
  published since the previous pass; every other ID in its window is
  already stored, and about one pass in five has no new ID at all.

Same seed, same bytes (``gzip`` ``mtime=0``, seeded ``random.Random``).
"""

from __future__ import annotations

import datetime as dt
import functools
import gzip
import importlib.util
import json
import math
import os
import random
from dataclasses import dataclass, field

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIXTURES = os.path.join(_ROOT, "tests", "fixtures", "nvd", "make_fixtures.py")


def _load_fixture_module():
    spec = importlib.util.spec_from_file_location("nvd_make_fixtures", _FIXTURES)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_FX = _load_fixture_module()

YEARS = tuple(range(2002, 2027))
CURRENT_YEAR = YEARS[-1]
FIRST_YEAR_SIZE = 2000
LAST_YEAR_SIZE = 9200
#: NVD published about 40,000 CVEs in 2024, about 110 a day.
CVES_PER_DAY = 110
#: NVD's 1.1 ``recent`` feed: the CVEs published in the previous eight days.
RECENT_WINDOW = dt.timedelta(days=8)
#: The reference's refresh schedule (``cronjob.yml:6``).
PASS_INTERVAL = dt.timedelta(minutes=20)

_ASSIGNERS = ("cve@mitre.org", "secalert@redhat.com", "psirt@cisco.com",
              "security@android.com", "cve@kernel.org", "psirt@us.ibm.com")
_CWES = ("CWE-79", "CWE-89", "CWE-20", "CWE-787", "CWE-416", "CWE-125",
         "CWE-22", "CWE-352", "CWE-269", "CWE-400", "NVD-CWE-Other")
_SEVERITY = (("LOW", 3.1), ("MEDIUM", 5.3), ("MEDIUM", 6.5), ("HIGH", 7.5),
             ("HIGH", 8.8), ("CRITICAL", 9.8))
_AV = ("NETWORK", "ADJACENT_NETWORK", "LOCAL", "PHYSICAL")
_REFSOURCES = ("MISC", "CONFIRM", "MLIST", "FULLDISC", "BID")
_TAGS = (("Patch",), ("Exploit", "Third Party Advisory"),
         ("Vendor Advisory", "Patch"), ("Mailing List",))
_PRODUCTS = ("a:apache:http_server:2.4.{v}", "a:vendor_a:webapp:1.{v}",
             "o:microsoft:windows_10:{v}", "a:oracle:mysql:8.0.{v}",
             "a:openssl:openssl:1.1.{v}", "o:apple:iphone_os:15.{v}")
_LINUX = "o:linux:linux_kernel:5.{v}"


def _uri(pattern: str, v: int) -> str:
    return "cpe:2.3:" + pattern.format(v=v) + ":*:*:*:*:*:*:*"


def _stamp(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%MZ")


@dataclass
class _Cve:
    item: dict
    published: dt.datetime
    linux: bool

    @property
    def id(self) -> str:
        return self.item["cve"]["CVE_data_meta"]["ID"]


def _random_cve(rng: random.Random, year: int, num: int, published: dt.datetime) -> _Cve:
    """One CVE item.

    Configuration shapes, by share: linux match at the top level (6%),
    linux match only inside ``children[]`` (2%), other vendors (76%),
    an empty ``cpe_match`` (8%), no ``configurations`` at all (8%).
    """
    kind = rng.random()
    kw = {}
    if kind < 0.06:
        kw["cpe_uris"] = [_uri(_LINUX, rng.randrange(20))]
        if rng.random() < 0.5:
            kw["cpe_uris"].append(_uri(rng.choice(_PRODUCTS), rng.randrange(10)))
    elif kind < 0.08:
        kw["children"] = [{
            "operator": "OR",
            "negate": False,
            "cpe_match": [_FX._cpe(_uri(_LINUX, rng.randrange(20)),
                                   versionEndExcluding="6.1")],
        }]
    elif kind < 0.84:
        kw["cpe_uris"] = [_uri(rng.choice(_PRODUCTS), rng.randrange(10))
                          for _ in range(rng.randint(1, 3))]
    elif kind < 0.92:
        kw["cpe_uris"] = []
    else:
        kw["no_configurations"] = True
    severity, score = rng.choice(_SEVERITY)
    item = _FX._item(
        num,
        year=year,
        assigner=rng.choice(_ASSIGNERS),
        published=_stamp(published),
        modified=_stamp(published + dt.timedelta(days=rng.randint(0, 400),
                                                 minutes=rng.randint(0, 1439))),
        severity_v3=severity,
        base_score=score,
        description=f"Generated vulnerability {year}-{num} ({severity.lower()}).",
        cwe=rng.choice(_CWES),
        attack_vector=rng.choice(_AV),
        user_interaction=rng.choice(("NONE", "REQUIRED")),
        refsource=rng.choice(_REFSOURCES),
        tags=rng.choice(_TAGS),
        n_refs=rng.randint(0, 3),
        **kw,
    )
    return _Cve(item, published, kind < 0.08)


def _write(path: str, cves: list[_Cve], timestamp: dt.datetime) -> None:
    doc = _FX._feed([c.item for c in cves], _stamp(timestamp))
    with gzip.GzipFile(path, "wb", mtime=0, compresslevel=6) as f:
        f.write(json.dumps(doc, separators=(",", ":")).encode("utf-8"))


def year_sizes(seed: int, scale: float = 1.0) -> dict[int, int]:
    """CVEs per year feed: linear from FIRST_YEAR_SIZE to LAST_YEAR_SIZE
    with +-5% seeded jitter, times ``scale``."""
    rng = random.Random(f"sizes-{seed}")
    span = len(YEARS) - 1
    return {
        y: max(4, round(scale * (FIRST_YEAR_SIZE + (LAST_YEAR_SIZE - FIRST_YEAR_SIZE) * i / span)
                        * rng.uniform(0.95, 1.05)))
        for i, y in enumerate(YEARS)
    }


def bootstrap_time(seed: int, scale: float = 1.0) -> dt.datetime:
    """The instant the current year's feed was fetched: its CVEs, at
    ``CVES_PER_DAY`` (times ``scale``), fill the year up to here."""
    days = year_sizes(seed, scale)[CURRENT_YEAR] / (CVES_PER_DAY * scale)
    return dt.datetime(CURRENT_YEAR, 1, 1) + dt.timedelta(minutes=round(days * 24 * 60))


@functools.lru_cache(maxsize=1)
def _year_cves(seed: int, year: int, size: int, scale: float) -> tuple[_Cve, ...]:
    """The CVEs of one year feed, in feed order; published uniformly over
    the year, or over the current year up to ``bootstrap_time``. The last
    one is kept: ``write_recent_feeds`` reuses the current year's."""
    rng = random.Random(f"year-{seed}-{year}")
    start = dt.datetime(year, 1, 1)
    end = bootstrap_time(seed, scale) if year == CURRENT_YEAR else dt.datetime(year, 12, 31)
    minutes = int((end - start).total_seconds() // 60)
    cves = [_random_cve(rng, year, num, start + dt.timedelta(minutes=rng.randrange(minutes)))
            for num in range(1, size + 1)]
    rng.shuffle(cves)
    return tuple(cves)


@dataclass
class YearFeeds:
    paths: list[str]
    sizes: dict[int, int]
    unique_ids: int
    linux_ids: int


def write_year_feeds(
    out_dir: str, seed: int, years: tuple[int, ...] = YEARS, scale: float = 1.0
) -> YearFeeds:
    """Write one gz feed per year of ``years`` under ``out_dir``; returns
    the expected counts (distinct IDs, and those the flagship query
    matches)."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {y: n for y, n in year_sizes(seed, scale).items() if y in years}
    paths, linux = [], 0
    for year in years:
        cves = _year_cves(seed, year, sizes[year], scale)
        linux += sum(c.linux for c in cves)
        path = os.path.join(out_dir, f"nvdcve-1.1-{year}.json.gz")
        _write(path, cves, max(c.published for c in cves))
        paths.append(path)
    return YearFeeds(paths, sizes, sum(sizes.values()), linux)


@dataclass
class RecentFeed:
    path: str
    rows: int
    new_ids: list[str] = field(default_factory=list)
    new_linux: int = 0
    ids: list[str] = field(default_factory=list)

    @property
    def stored_ids(self) -> int:
        return self.rows - len(self.new_ids)


def write_recent_feeds(out_dir: str, seed: int, passes: int, scale: float = 1.0) -> list[RecentFeed]:
    """The ``recent`` feeds of ``passes`` refresh passes after a bootstrap
    whose current-year feed came from ``seed`` (see the module doc)."""
    os.makedirs(out_dir, exist_ok=True)
    size = year_sizes(seed, scale)[CURRENT_YEAR]
    t0 = bootstrap_time(seed, scale)
    timeline = sorted(_year_cves(seed, CURRENT_YEAR, size, scale), key=lambda c: c.published)
    # Arrivals after the bootstrap, numbered on from the year feed, on
    # whole minutes strictly after ``t0``.
    rng = random.Random(f"arrivals-{seed}")
    per_minute = CVES_PER_DAY * scale / (24 * 60)
    end = t0 + PASS_INTERVAL * passes
    t, num = 0.0, size
    while True:
        t += rng.expovariate(per_minute)
        published = t0 + dt.timedelta(minutes=math.ceil(t))
        if published > end:
            break
        num += 1
        timeline.append(_random_cve(rng, CURRENT_YEAR, num, published))

    out = []
    for k in range(passes):
        now, prev = t0 + PASS_INTERVAL * (k + 1), t0 + PASS_INTERVAL * k
        window = [c for c in timeline if now - RECENT_WINDOW < c.published <= now]
        new = [c for c in window if c.published > prev]
        path = os.path.join(out_dir, f"nvdcve-1.1-recent-{k:04d}.json.gz")
        _write(path, window, now)
        out.append(RecentFeed(path, len(window), [c.id for c in new],
                              sum(c.linux for c in new), [c.id for c in window]))
    return out
