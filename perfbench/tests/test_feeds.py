"""The seeded feed generator: determinism, key uniqueness, geo
coverage, and the stated count of every planted case, recounted from
the written files with DuckDB."""

from __future__ import annotations

import hashlib
import os

import duckdb

import feeds as G
from conftest import SMALL


def _digest(stage: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(stage):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, stage).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _landed(tmp_path, name: str, seed: int) -> str:
    stage = str(tmp_path / name)
    feeds = G.generate(seed, SMALL)
    G.land(feeds, stage, feeds.all_days())
    G.land_geo(feeds, stage)
    return stage


def test_same_seed_same_files_other_seed_other_files(tmp_path):
    a = _landed(tmp_path, "a", 9)
    b = _landed(tmp_path, "b", 9)
    c = _landed(tmp_path, "c", 10)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def _con(stage: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    date = "make_date(CAST(yyyy AS INT), CAST(mm AS INT), CAST(dd AS INT))"
    for name, sub in (("acr", "ACR"), ("stb", "STB"), ("geo", "Geo-Weights")):
        con.execute(
            f"CREATE VIEW {name} AS SELECT *, {date} AS metadata_date "
            f"FROM read_parquet('{stage}/{sub}/*/*/*/*.parquet', hive_partitioning = true)"
        )
    con.execute("""
      CREATE VIEW ev AS
      SELECT smba_id, title, content_id, exposure_start_ts, exposure_end_ts,
             duration, metadata_date FROM acr
      UNION ALL
      SELECT smba_id, title, content_id, exposure_start_ts, exposure_end_ts,
             duration, metadata_date FROM stb""")
    return con


def test_weak_merge_key_is_unique(small_stage):
    _, stage = small_stage
    con = _con(stage)
    n, distinct = con.execute(
        "SELECT count(*), count(DISTINCT (smba_id, exposure_start_ts)) FROM ev"
    ).fetchone()
    assert n > 0 and n == distinct


def test_every_device_has_a_geo_row_for_every_monday(small_stage):
    feeds, stage = small_stage
    con = _con(stage)
    mondays = G.mondays(SMALL)
    devices, days, rows, pairs, non_monday = con.execute("""
      SELECT count(DISTINCT smba_id), count(DISTINCT metadata_date), count(*),
             count(DISTINCT (smba_id, metadata_date)),
             count(*) FILTER (WHERE isodow(metadata_date) <> 1)
      FROM geo""").fetchone()
    assert devices == SMALL.devices and days == len(mondays)
    assert rows == pairs == devices * days and non_monday == 0
    # every event's device is one of them
    assert con.execute(
        "SELECT count(*) FROM ev WHERE smba_id NOT IN (SELECT smba_id FROM geo)"
    ).fetchone()[0] == 0


def test_planted_cases_occur_as_stated(small_stage):
    feeds, stage = small_stage
    con = _con(stage)
    got = dict(zip(
        ["events", "gap_300", "gap_301", "midnight_straddle",
         "session_total_180", "session_total_179", "case_a_short_sessions",
         "case_c_null_hh_events", "case_d_uncovered_events",
         "case_f_null_weight_events"],
        con.execute("""
          WITH dev AS (
            SELECT smba_id, any_value(hh_id) AS hh_id,
                   bool_or(geo_weight IS NULL) AS null_w
            FROM geo GROUP BY smba_id
          ),
          e AS (
            SELECT ev.*, coalesce(dev.hh_id, ev.smba_id) AS hh_key,
                   dev.hh_id IS NULL AS null_hh, dev.null_w
            FROM ev JOIN dev USING (smba_id)
          ),
          g AS (
            SELECT *,
              exposure_start_ts - LAG(exposure_end_ts) OVER w AS gap,
              LAG(metadata_date) OVER w AS prev_date
            FROM e WINDOW w AS (PARTITION BY hh_key, title, content_id
                                ORDER BY exposure_start_ts)
          ),
          s AS (
            SELECT *, SUM(CASE WHEN gap IS NULL OR gap > 300 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY hh_key, title, content_id
                              ORDER BY exposure_start_ts) AS sid
            FROM g
          ),
          totals AS (
            SELECT SUM(duration) AS total FROM s
            GROUP BY hh_key, title, content_id, sid
          )
          SELECT
            (SELECT count(*) FROM g),
            (SELECT count(*) FROM g WHERE gap = 300),
            (SELECT count(*) FROM g WHERE gap = 301),
            (SELECT count(*) FROM g WHERE gap <= 300 AND metadata_date <> prev_date),
            (SELECT count(*) FROM totals WHERE total = 180),
            (SELECT count(*) FROM totals WHERE total = 179),
            (SELECT count(*) FROM totals WHERE total < 180),
            (SELECT count(*) FROM g WHERE null_hh),
            (SELECT count(*) FROM g WHERE metadata_date = ?),
            (SELECT count(*) FROM g WHERE null_w)
        """, [G.day_date(0)]).fetchone(),
    ))
    for name, n in got.items():
        assert n == feeds.stats[name] > 0, (name, n, feeds.stats[name])


def test_some_stb_drops_land_a_day_late(small_stage):
    feeds, _ = small_stage
    assert feeds.stats["late_stb_days"] == len(feeds.late_stb_days) > 0
    landed = [d for step in range(SMALL.new_days) for d in feeds.landing(step)]
    for day in feeds.late_stb_days:
        assert ("STB", day) not in feeds.landing(day - SMALL.history_days)
        assert ("STB", day) in feeds.landing(day - SMALL.history_days + 1)
    # every drop lands exactly once, the last day on time
    every = feeds.history() + landed
    assert sorted(every) == sorted(feeds.all_days())
    assert SMALL.days - 1 not in feeds.late_stb_days
