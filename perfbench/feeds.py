"""Seeded ACR / STB / GEO_WEIGHTS feed generator for the reference
pipeline workloads (``etl_daily`` and ``serve``).

The feeds land as parquet drops in the stage layout the ingest DAG
reads (``ACR/yyyy=/mm=/dd=/part-0.parquet``, ``STB/...``,
``Geo-Weights/...``); the file contents carry no yyyy/mm/dd or
metadata_date, which ingest derives from the path.

What the data contains, and why:

- device activity and title popularity are Zipf-skewed;
- each device is either an ACR television or an STB box, several
  devices can share a household, and no household has two events
  starting in the same second, so the weak MERGE key
  ``(smba_id, exposure_start_ts)`` never collides and LAG has no
  ties inside a ``(hh_id, title, content_id)`` partition;
- viewing comes in bursts of consecutive events whose gaps include
  exactly 300 s (same session), exactly 301 s (split), overlaps and
  long breaks; some bursts start just before midnight and run into
  the next day's file;
- some bursts total exactly 180 s (kept) or 179 s (dropped);
- the reference filters' drop cases: sessions under 180 s (case A of
  FIXTURES.md), devices whose geo rows carry a NULL ``hh_id``
  (case C), day 0, which no panel window covers (case D), and
  devices whose geo rows carry a NULL ``geo_weight`` (case F);
- geo rows exist for every (device, Monday) and land with the
  history, so later days never re-attribute loaded events;
- the last history day's STB drop lands one day after its ACR drop,
  with the first new day's drops.

``Feeds.stats`` states how often each case occurs; the tests recount
them from the written files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# a Sunday: the first geo Monday is BASE + 29, whose window
# [BASE + 1, BASE + 28] leaves day 0 uncovered (case D)
BASE = dt.date(2025, 1, 5)
FIRST_MONDAY_OFFSET = 29
DAY_S = 86_400
GAP_S = 300
MIN_SESSION_S = 180

FEED_DIRS = {"ACR": "ACR", "STB": "STB", "GEO_WEIGHTS": "Geo-Weights"}


TITLES = 60
CONTENTS_PER_TITLE = 3
# shares of devices in the NULL-hh (C) and NULL-weight (F) cases
NULL_HH_SHARE = 0.03
NULL_WEIGHT_SHARE = 0.03
# planted bursts per day
MIDNIGHT_BURSTS = 6
BOUNDARY_BURSTS = 4
# days, counted from the first new day, whose STB drop lands with the
# next day's drops (the same for every seed): -1 holds back the last
# history day's STB, so the bootstrap pass runs without it and the
# one day etl_daily times lands it with that day's own drops
LATE_STB_STEPS = (-1,)


@dataclass(frozen=True)
class FeedSpec:
    history_days: int = 14
    new_days: int = 4
    devices: int = 1200
    events_per_day: int = 3000

    @property
    def days(self) -> int:
        return self.history_days + self.new_days


def day_date(i: int) -> dt.date:
    return BASE + dt.timedelta(days=i)


def _epoch(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * DAY_S


def mondays(spec: FeedSpec) -> list[dt.date]:
    """Every panel Monday a day of the run can be attributed to."""
    last = day_date(spec.days - 1) + dt.timedelta(days=28)
    out, m = [], day_date(FIRST_MONDAY_OFFSET)
    while m <= last:
        out.append(m)
        m += dt.timedelta(days=7)
    return out


@dataclass
class Feeds:
    spec: FeedSpec
    seed: int
    events: pd.DataFrame  # one row per event, both feeds, with day index
    geo: pd.DataFrame
    late_stb_days: list[int]
    stats: dict[str, int] = field(default_factory=dict)

    def feed_day(self, feed: str, day: int) -> pd.DataFrame:
        ev = self.events
        sel = ev[(ev["feed"] == feed) & (ev["day"] == day)]
        cols = _ACR_COLUMNS if feed == "ACR" else _STB_COLUMNS
        return sel[cols].reset_index(drop=True)

    def landing(self, step: int) -> list[tuple[str, int]]:
        """(feed, day) drops that land at new-day ``step`` (0-based):
        the day's ACR, its STB unless late, and yesterday's late STB."""
        day = self.spec.history_days + step
        out = [("ACR", day)]
        if day not in self.late_stb_days:
            out.append(("STB", day))
        if day - 1 in self.late_stb_days:
            out.append(("STB", day - 1))
        return out

    def history(self) -> list[tuple[str, int]]:
        return [
            (feed, d)
            for d in range(self.spec.history_days)
            for feed in ("ACR", "STB")
            if not (feed == "STB" and d in self.late_stb_days)
        ]

    def all_days(self) -> list[tuple[str, int]]:
        return [
            (feed, d) for d in range(self.spec.days) for feed in ("ACR", "STB")
        ]


_COMMON = [
    "smba_id", "exposure_start_ts", "exposure_end_ts", "duration",
    "content_type", "content_id", "title", "episode_title", "season",
    "episode", "network", "dma", "zip",
]
_ACR_COLUMNS = _COMMON + ["application"]
_STB_COLUMNS = _COMMON


def _partition_dir(stage: str, feed: str, d: dt.date) -> str:
    return os.path.join(
        stage, FEED_DIRS[feed], f"yyyy={d.year:04d}", f"mm={d.month:02d}",
        f"dd={d.day:02d}",
    )


def _write(df: pd.DataFrame, directory: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "part-0.parquet")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def land(feeds: Feeds, stage: str, drops: list[tuple[str, int]]) -> list[str]:
    """Write the event drops into the stage; returns the file paths."""
    return [
        _write(feeds.feed_day(feed, day), _partition_dir(stage, feed, day_date(day)))
        for feed, day in drops
    ]


def land_geo(feeds: Feeds, stage: str) -> list[str]:
    out = []
    for m, part in feeds.geo.groupby("metadata_date", sort=True):
        out.append(
            _write(
                part[["hh_id", "smba_id", "geo_weight"]].reset_index(drop=True),
                _partition_dir(stage, "GEO_WEIGHTS", m),
            )
        )
    return out


def _zipf_p(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    p = p[rng.permutation(n)]
    return p / p.sum()


def _gap(rng: np.random.Generator) -> int:
    r = rng.random()
    if r < 0.08:
        return GAP_S          # stays in the session
    if r < 0.16:
        return GAP_S + 1      # splits it
    if r < 0.21:
        return -int(rng.integers(1, 20))   # overlap
    if r < 0.35:
        return int(rng.integers(400, 3000))  # a break
    return int(rng.integers(0, 240))


def generate(seed: int, spec: FeedSpec = FeedSpec()) -> Feeds:
    rng = np.random.default_rng(seed)
    n_dev = spec.devices
    n_hh = int(n_dev * 0.7)
    hh_of = np.where(
        np.arange(n_dev) < n_hh, np.arange(n_dev), rng.integers(0, n_hh, n_dev)
    )
    is_acr = rng.random(n_dev) < 0.55
    dma_of = rng.integers(500, 520, n_dev)
    case = rng.permutation(n_dev)
    n_c = max(1, int(n_dev * NULL_HH_SHARE))
    n_f = max(1, int(n_dev * NULL_WEIGHT_SHARE))
    null_hh = np.zeros(n_dev, bool)
    null_hh[case[:n_c]] = True
    null_w = np.zeros(n_dev, bool)
    null_w[case[n_c:n_c + n_f]] = True
    dev_p = _zipf_p(n_dev, 1.1, rng)
    title_p = _zipf_p(TITLES, 0.9, rng)

    # bursts: (device, title, content, start second since BASE, n events)
    bursts = []
    for day in range(spec.days):
        day0 = day * DAY_S
        n = spec.events_per_day // 3
        devs = rng.choice(n_dev, n, p=dev_p)
        titles = rng.choice(TITLES, n, p=title_p)
        contents = rng.integers(0, CONTENTS_PER_TITLE, n)
        starts = day0 + rng.integers(0, DAY_S, n)
        lens = 1 + rng.geometric(0.4, n)
        bursts += [
            (int(a), int(b), int(c), int(s), int(k), None)
            for a, b, c, s, k in zip(devs, titles, contents, starts, lens)
        ]
        for _ in range(MIDNIGHT_BURSTS):
            bursts.append((
                int(rng.choice(n_dev, p=dev_p)), int(rng.choice(TITLES)),
                int(rng.integers(CONTENTS_PER_TITLE)),
                day0 + DAY_S - int(rng.integers(30, 200)), 3, "midnight",
            ))
        for total in (MIN_SESSION_S, MIN_SESSION_S - 1):
            for _ in range(BOUNDARY_BURSTS):
                bursts.append((
                    int(rng.choice(n_dev, p=dev_p)), int(rng.choice(TITLES)),
                    int(rng.integers(CONTENTS_PER_TITLE)),
                    day0 + int(rng.integers(3600, DAY_S - 3600)), 1, total,
                ))

    rows = []
    for dev, title, content, start, k, kind in bursts:
        t = start
        for j in range(k):
            if kind == "midnight":
                dur = int(rng.integers(60, 150))
            elif kind is not None:
                dur = kind
            else:
                dur = int(rng.integers(20, 600))
            rows.append((dev, title, content, t, dur))
            t = t + dur + (int(rng.integers(0, 120)) if kind else _gap(rng))
    ev = pd.DataFrame(rows, columns=["dev", "title", "content", "t", "duration"])
    ev["day"] = ev["t"] // DAY_S
    ev = ev[ev["day"] < spec.days]
    # one event per (household, start second): NULL-hh devices key on
    # themselves (their rows never reach sessionization)
    ev["hh_key"] = np.where(null_hh[ev["dev"]], -1 - ev["dev"], hh_of[ev["dev"]])
    ev = ev.drop_duplicates(["hh_key", "t"]).sort_values(["day", "t", "dev"])
    ev = ev.reset_index(drop=True)

    start_ts = _epoch(BASE) + ev["t"].to_numpy()
    dev = ev["dev"].to_numpy()
    title = ev["title"].to_numpy()
    content = ev["content"].to_numpy()
    out = pd.DataFrame({
        "feed": np.where(is_acr[dev], "ACR", "STB"),
        "day": ev["day"].to_numpy(),
        "smba_id": [f"dev_{d:05d}" for d in dev],
        "exposure_start_ts": start_ts.astype("int64"),
        "exposure_end_ts": (start_ts + ev["duration"].to_numpy()).astype("int64"),
        "duration": ev["duration"].to_numpy().astype("int64"),
        "content_type": np.array(["live", "vod", "dvr"])[title % 3],
        "content_id": [f"ct_{a:03d}_{b}" for a, b in zip(title, content)],
        "title": [f"title_{a:03d}" for a in title],
        "episode_title": [None if b == 0 else f"episode {b}" for b in content],
        "season": [None if a % 4 == 0 else str(1 + a % 5) for a in title],
        "episode": [str(b + 1) for b in content],
        "network": [f"NET{a % 15:02d}" for a in title],
        "dma": dma_of[dev].astype(str),
        "zip": [f"{10000 + (d * 37) % 90000:05d}" for d in dev],
        "application": [f"app_{d % 7:02d}" for d in dev],
        "hh_key": ev["hh_key"].to_numpy(),
    })

    ms = mondays(spec)
    geo = pd.DataFrame(
        [
            (
                m,
                None if null_hh[d] else f"hh_{hh_of[d]:05d}",
                f"dev_{d:05d}",
                None if null_w[d] else ((d * 7 + k * 3 + seed) % 8 + 1) * 0.25,
            )
            for k, m in enumerate(ms)
            for d in range(n_dev)
        ],
        columns=["metadata_date", "hh_id", "smba_id", "geo_weight"],
    )

    late = [
        spec.history_days + s for s in LATE_STB_STEPS
        if 0 <= spec.history_days + s < spec.days - 1  # never the last day
    ]

    feeds = Feeds(spec, seed, out, geo, late)
    feeds.stats = case_counts(out, null_hh, null_w, late)
    return feeds


def raw_sessions(events: pd.DataFrame) -> pd.DataFrame:
    """Sessions by the reference gap rule over the raw events, keyed by
    (household, title, content_id), before any drop filter."""
    ev = events.sort_values(["hh_key", "title", "content_id", "exposure_start_ts"])
    key = ["hh_key", "title", "content_id"]
    prev_end = ev.groupby(key, sort=False)["exposure_end_ts"].shift()
    gap = ev["exposure_start_ts"] - prev_end
    ev = ev.assign(
        gap=gap,
        new=(gap.isna() | (gap > GAP_S)).astype(int),
        prev_day=ev.groupby(key, sort=False)["day"].shift(),
    )
    ev["session"] = ev.groupby(key, sort=False)["new"].cumsum()
    return ev


def case_counts(events, null_hh, null_w, late_days) -> dict[str, int]:
    ev = raw_sessions(events)
    dev = ev["smba_id"].str[4:].astype(int).to_numpy()
    totals = ev.groupby(["hh_key", "title", "content_id", "session"])["duration"].sum()
    return {
        "events": int(len(ev)),
        "gap_300": int((ev["gap"] == GAP_S).sum()),
        "gap_301": int((ev["gap"] == GAP_S + 1).sum()),
        "midnight_straddle": int(
            ((ev["gap"] <= GAP_S) & (ev["day"] != ev["prev_day"])
             & ev["prev_day"].notna()).sum()
        ),
        "session_total_180": int((totals == MIN_SESSION_S).sum()),
        "session_total_179": int((totals == MIN_SESSION_S - 1).sum()),
        "case_a_short_sessions": int((totals < MIN_SESSION_S).sum()),
        "case_c_null_hh_events": int(null_hh[dev].sum()),
        "case_d_uncovered_events": int((ev["day"] == 0).sum()),
        "case_f_null_weight_events": int(null_w[dev].sum()),
        "late_stb_days": len(late_days),
    }
