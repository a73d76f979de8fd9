"""Output checks: a DuckDB recomputation of the reference chain from
the stage files, the expected answer of every read op, the registry's
DuckDB oracles, and the comparisons every check goes through.

Nothing here touches Spark; results produced by the engine come in as
pandas frames with the same column names and types. The workloads
compute expected answers in a child process (``Answers``), so
DuckDB's memory never counts toward the driver's peak RSS:

    python3 perfbench/reference.py <request.pkl> <answers.pkl>
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd

SESSION_COLUMNS = [
    "hh_id", "dma", "source_table", "content_type", "application",
    "title", "content_id", "episode_title", "season", "episode",
    "network", "panel_monday", "session_id", "session_start_ts",
    "session_end_ts", "total_duration", "panel_weight",
]
METRIC_COLUMNS = [
    "title", "content_id", "episode_title", "season", "episode",
    "network", "content_type", "application", "source_table",
    "panel_monday", "dma", "hh_id", "panel_weight", "weighted_view",
    "weighted_hh", "weighted_duration", "session_start_ts",
    "session_end_ts", "total_duration", "metadata_date",
]
ROLLUP_DIMS = ["network", "dma", "panel_monday"]
WEEK_DIMS = ["network", "dma"]
RF_COLUMNS = [
    "weighted_views", "weighted_reach", "n_sessions", "n_households",
    "frequency",
]
TOP_TITLES = 20


def _scan(stage: str, feed_dir: str) -> str:
    return (
        f"read_parquet('{stage}/{feed_dir}/*/*/*/*.parquet', "
        "hive_partitioning = true)"
    )


def _date() -> str:
    return "make_date(CAST(yyyy AS INT), CAST(mm AS INT), CAST(dd AS INT))"


def _event_select(stage: str, feed: str) -> str:
    app = "application" if feed == "ACR" else "CAST(NULL AS VARCHAR)"
    return f"""
      SELECT '{feed}' AS source_table, smba_id, content_type,
             {app} AS application, title, content_id, episode_title,
             season, episode, network, duration, exposure_start_ts,
             exposure_end_ts, dma, {_date()} AS metadata_date
      FROM {_scan(stage, feed)}"""


class Reference:
    """The reference chain recomputed in DuckDB over a stage
    directory: panel windows -> attribution -> weighting ->
    sessionization -> the audience-metrics view."""

    def __init__(self, stage: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(f"""
          CREATE TABLE geo AS
          SELECT {_date()} AS metadata_date, hh_id, smba_id, geo_weight
          FROM {_scan(stage, 'Geo-Weights')}""")
        self.con.execute(
            "CREATE TABLE ev AS "
            + _event_select(stage, "ACR") + " UNION ALL "
            + _event_select(stage, "STB")
        )
        self.con.execute(f"""
          CREATE TABLE sessions AS
          WITH pw AS (
            SELECT DISTINCT metadata_date AS panel_monday FROM geo
            WHERE isodow(metadata_date) = 1
          ),
          attr AS (
            SELECT e.*, (SELECT max(panel_monday) FROM pw
                         WHERE e.metadata_date BETWEEN panel_monday - 28
                                                   AND panel_monday - 1)
                          AS panel_monday
            FROM ev e
          ),
          w AS (
            SELECT a.*, g.hh_id, g.geo_weight AS panel_weight
            FROM attr a LEFT JOIN geo g
              ON g.smba_id = a.smba_id AND g.metadata_date = a.panel_monday
            WHERE a.panel_monday IS NOT NULL AND g.hh_id IS NOT NULL
              AND g.geo_weight IS NOT NULL
          ),
          ids AS (
            SELECT *, SUM(CASE WHEN gap IS NULL OR gap > 300 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY hh_id, title, content_id
                              ORDER BY exposure_start_ts) AS session_id
            FROM (SELECT *, exposure_start_ts - LAG(exposure_end_ts) OVER (
                              PARTITION BY hh_id, title, content_id
                              ORDER BY exposure_start_ts) AS gap
                  FROM w)
          )
          SELECT hh_id, dma, source_table, content_type, application, title,
                 content_id, episode_title, season, episode, network,
                 CAST(panel_monday AS VARCHAR) AS panel_monday,
                 CAST(session_id AS BIGINT) AS session_id,
                 MIN(exposure_start_ts) AS session_start_ts,
                 MAX(exposure_end_ts) AS session_end_ts,
                 CAST(SUM(duration) AS BIGINT) AS total_duration,
                 panel_weight
          FROM ids
          GROUP BY hh_id, dma, source_table, content_type, application,
                   title, content_id, episode_title, season, episode,
                   network, panel_monday, panel_weight, session_id
          HAVING SUM(duration) >= 180""")
        self.con.execute("""
          CREATE TABLE metrics AS
          SELECT title, content_id, episode_title, season, episode, network,
                 content_type, application, source_table, panel_monday, dma,
                 hh_id, panel_weight, panel_weight AS weighted_view,
                 panel_weight AS weighted_hh,
                 total_duration * panel_weight AS weighted_duration,
                 session_start_ts, session_end_ts, total_duration,
                 CAST(DATE '1970-01-01'
                      + CAST(floor(session_start_ts / 86400) AS INTEGER)
                      AS VARCHAR) AS metadata_date
          FROM sessions""")

    def df(self, sql: str, params: list | None = None) -> pd.DataFrame:
        return self.con.execute(sql, params or []).df()

    def sessions(self) -> pd.DataFrame:
        return self.df("SELECT * FROM sessions")

    def households(self) -> list[str]:
        return list(self.df("SELECT DISTINCT hh_id FROM sessions ORDER BY 1")["hh_id"])

    def mondays(self) -> list[str]:
        return list(
            self.df("SELECT DISTINCT panel_monday FROM sessions ORDER BY 1")[
                "panel_monday"
            ]
        )

    @staticmethod
    def _per_hh(dims: list[str], where: str = "") -> str:
        return f"""
          SELECT {', '.join(dims)}, hh_id, SUM(weighted_view) AS v,
                 MAX(weighted_hh) AS w, COUNT(*) AS n
          FROM metrics {where} GROUP BY ALL"""

    def rollup(self) -> pd.DataFrame:
        """reach_frequency_rollup over ROLLUP_DIMS: one block per
        grouping level, coarser levels re-deduplicating households."""
        base = self._per_hh(ROLLUP_DIMS)
        blocks = []
        for lvl in range(len(ROLLUP_DIMS) + 1):
            keep = ROLLUP_DIMS[: len(ROLLUP_DIMS) - lvl]
            cols = [d if d in keep else f"NULL AS {d}" for d in ROLLUP_DIMS]
            grp = ", ".join(keep + ["hh_id"])
            outer = f"GROUP BY {', '.join(keep)}" if keep else ""
            blocks.append(f"""
              SELECT {', '.join(cols)}, {lvl} AS grouping_level,
                     SUM(v) AS weighted_views, SUM(w) AS weighted_reach,
                     CAST(SUM(n) AS BIGINT) AS n_sessions,
                     COUNT(*) AS n_households,
                     SUM(v) / SUM(w) AS frequency
              FROM (SELECT {', '.join(keep + ['hh_id'])}, SUM(v) AS v,
                           MAX(w) AS w, SUM(n) AS n
                    FROM per_hh GROUP BY {grp}) {outer}""")
        return self.df(f"WITH per_hh AS ({base}) " + " UNION ALL ".join(blocks))

    def week(self, monday: str) -> pd.DataFrame:
        dims = ", ".join(WEEK_DIMS)
        return self.df(
            f"""SELECT {dims}, SUM(v) AS weighted_views,
                       SUM(w) AS weighted_reach,
                       CAST(SUM(n) AS BIGINT) AS n_sessions,
                       COUNT(*) AS n_households, SUM(v) / SUM(w) AS frequency
                FROM ({self._per_hh(WEEK_DIMS, 'WHERE panel_monday = ?')})
                GROUP BY {dims}""",
            [monday],
        )

    def weeks(self) -> dict[str, pd.DataFrame]:
        return {m: self.week(m) for m in self.mondays()}

    def household(self, hh_id: str) -> pd.DataFrame:
        return self.df("SELECT * FROM metrics WHERE hh_id = ?", [hh_id])

    def metrics(self) -> pd.DataFrame:
        return self.df("SELECT * FROM metrics")

    def top_titles(self) -> pd.DataFrame:
        return self.df(
            f"""SELECT title, SUM(weighted_duration) AS weighted_duration
                FROM metrics GROUP BY title
                ORDER BY weighted_duration DESC, title LIMIT {TOP_TITLES}"""
        )

    def answer(self, kind: str, param: str | None = None):
        """The expected answer keyed ``(kind, param)``: ``sessions``,
        ``households``, ``mondays``, ``weeks``, ``metrics`` or a read
        op's kind."""
        fn = getattr(self, kind)
        return fn(param) if kind in ("week", "household") else fn()


def run_oracles(sf_dir: str, sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Each registry query's DuckDB oracle, run as the repo's oracle
    tests run it."""
    from tests.oracle_utils import run_oracle

    return {name: run_oracle(sql, sf_dir) for name, sql in sqls.items()}


def answers(request: dict) -> dict:
    """``{"stage": dir, "keys": [(kind, param), ...]}`` gives each
    key's reference answer; ``{"sf_dir": dir, "oracles": {name: sql}}``
    gives each oracle's result, keyed by name. A request may ask for
    both."""
    out = {}
    if "oracles" in request:
        out.update(run_oracles(request["sf_dir"], request["oracles"]))
    if "stage" in request:
        ref = Reference(request["stage"])
        out.update({tuple(k): ref.answer(*k) for k in request["keys"]})
    return out


class Answers:
    """``answers(request)`` computed in a child Python process, whose
    memory stays out of this process's peak RSS. The child starts at
    once, so it can run while the parent sets up; ``result()`` waits
    for it. Use as a context manager: leaving the block stops a child
    that is still running and waits for it."""

    def __init__(self, request: dict, work: str):
        self._req = os.path.join(work, "request.pkl")
        self._out = os.path.join(work, "answers.pkl")
        with open(self._req, "wb") as fh:
            pickle.dump(request, fh)
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), self._req, self._out]
        )

    def result(self, timeout: float = 150.0) -> dict:
        if self._proc.wait(timeout=timeout) != 0:
            raise RuntimeError(f"reference child exited {self._proc.returncode}")
        with open(self._out, "rb") as fh:
            out = pickle.load(fh)
        os.remove(self._req)
        os.remove(self._out)
        return out

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if self._proc.poll() is None:
            self._proc.kill()
        self._proc.wait()



def _canonical(df: pd.DataFrame, columns: list[str]) -> pd.DataFrame:
    out = pd.DataFrame(index=df.index)
    for c in columns:
        col = df[c]
        if col.dtype.kind in "iuf":
            out[c] = col.astype("float64")
        else:
            out[c] = col.astype(str).mask(col.isna(), "NULL")
    return out


def same_rows(got: pd.DataFrame, want: pd.DataFrame, columns: list[str],
              ordered: bool = False) -> bool:
    """Multiset (or, with ``ordered``, sequence) equality on
    ``columns``. Every checked value is exact: weights are binary
    quarters, so sums and ratios of them round identically on both
    engines, and integers compare as float64 without loss."""
    if len(got) != len(want):
        return False
    g = _canonical(got.reset_index(drop=True), columns)
    w = _canonical(want.reset_index(drop=True), columns)
    if not ordered:
        g = g.sort_values(columns).reset_index(drop=True)
        w = w.sort_values(columns).reset_index(drop=True)
    return bool(g.equals(w))


def _oracle_form(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            out[c] = col.round(6)
        else:
            out[c] = col.astype(str).mask(col.isna(), "NULL")
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """A registry query's result against its oracle, as the repo's
    oracle tests compare them: same columns in any order, the same
    non-empty multiset of rows, floats to six decimals."""
    if len(got) == 0 or len(got) != len(want):
        return False
    if sorted(got.columns) != sorted(want.columns):
        return False
    g, w = _oracle_form(got), _oracle_form(want)
    for c in g.columns:
        if "f" in (g[c].dtype.kind, w[c].dtype.kind):
            a, b = g[c].astype(float).to_numpy(), w[c].astype(float).to_numpy()
            if not np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        elif not (g[c] == w[c]).all():
            return False
    return True


if __name__ == "__main__":
    with open(sys.argv[1], "rb") as fh:
        request = pickle.load(fh)
    with open(sys.argv[2], "wb") as fh:
        pickle.dump(answers(request), fh)
