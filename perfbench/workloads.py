"""The workloads: inputs, set-up, one measured phase, output checks.

Each workload calls only the package's public functions, each call
inside a ``Tracer`` span named ``<layer>.<function>``. A phase is the
unit of work repeated in the closed loop; it returns the latency of
every unit operation it ran. Checks run after the timed loop, on the
last phase's outputs, against twins that share no code with the
program: DuckDB SQL over the generated inputs and the batch twins in
``streaming.core``.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import time

import numpy as np

import gen

UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)


def du(path: str) -> int:
    """Bytes of the data files under ``path`` (checksums excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if not f.endswith(".crc"))
    return total


def _norm(v):
    """One comparable form for Spark and DuckDB values."""
    if isinstance(v, dt.datetime):
        v = v if v.tzinfo else v.replace(tzinfo=UTC)
        return ("ts", (v - EPOCH) // dt.timedelta(microseconds=1))
    if isinstance(v, float):
        return None if math.isnan(v) else v
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def same_rows(got, want) -> str | None:
    """None if the two row sets are equal (floats to 1e-9), else why."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=repr)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=repr)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for a, b in zip(g, w):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {a} != expected {b}"
    return None


def duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, ctx):
        self.ctx = ctx

    def gen(self, seed: int, out: str) -> dict:
        raise NotImplementedError

    def setup(self, cold: bool) -> None:
        """Prepare the program's state; warm up only on a cold JVM."""
        raise NotImplementedError

    def phase(self, k: int) -> list[float]:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def settle(self) -> None:
        """Untimed housekeeping after a phase: size accounting, cleanup."""

    def layers(self, log, spans) -> dict[str, float]:
        """Per-layer metrics from the event log once the session stopped."""
        return {}

    def timed(self, lat: list[float], fn, *args):
        """Run one unit operation as the root span of its layer calls."""
        t0 = time.perf_counter()
        with self.ctx.tracer.span(f"op.{self.name}"):
            out = fn(*args)
        lat.append(time.perf_counter() - t0)
        return out


# --------------------------------------------------------------------------
# market_lake: backfill + hourly increments + serving load


class MarketLake(Workload):
    name = "market_lake"
    sizes = {"tickers": 40, "days": 250, "batches": 3, "batch_tickers": 10,
             "redelivered": 3}

    def gen(self, seed, out):
        s = self.sizes
        info = gen.market(seed, out, s["tickers"], s["days"], s["batches"],
                          s["batch_tickers"], s["redelivered"])
        info["rows"] = info["backfill_rows"] + sum(info["batch_rows"])
        return info

    def _load(self):
        from stock_market_etl_spark import io

        c, t = self.ctx, self.ctx.tracer
        with t.span("io.load_table"):
            raw = io.load_table(c.spark, f"{c.inputs}/raw", "bars")
            batches = [io.load_table(c.spark, f"{c.inputs}/batches", f"b{b:02d}")
                       for b in range(self.sizes["batches"])]
        return raw, batches

    def setup(self, cold):
        self.raw, self.batches = self._load()
        self.lake = None
        if cold:
            self.phase(-1)  # warm-up: one full lifecycle

    def phase(self, k):
        from stock_market_etl_spark import pipeline

        c, t = self.ctx, self.ctx.tracer
        self.old_lake, self.lake = self.lake, f"{c.work}/lake_{c.setup_no}_{k}"
        lat: list[float] = []
        with t.span("pipeline.backfill"):
            metrics = pipeline.backfill(self.raw, self.lake)
        with t.span("pipeline.load_serving"):
            serving = pipeline.load_serving(metrics, None).localCheckpoint(eager=True)

        def increment(batch, serving):
            with t.span("pipeline.run_increment"):
                m = pipeline.run_increment(c.spark, self.lake, batch)
            with t.span("pipeline.load_serving"):
                return pipeline.load_serving(m, serving).localCheckpoint(eager=True)

        for batch in self.batches:
            serving = self.timed(lat, increment, batch, serving)
        self.serving = serving
        return lat

    def settle(self):
        self.ctx.bytes_written = du(self.lake)
        if self.old_lake:
            shutil.rmtree(self.old_lake, ignore_errors=True)

    def check(self):
        c = self.ctx
        con = duck()
        got = con.execute(f"""
            SELECT ticker, date, close, daily_return, rolling_vol_30d, year
            FROM read_parquet('{self.lake}/**/*.parquet', hive_partitioning = 1)
        """).fetchall()
        want = con.execute(f"""
            WITH a AS (
              SELECT *, '' AS f FROM read_parquet('{c.inputs}/raw/bars.parquet')
              UNION ALL
              SELECT * EXCLUDE (filename), filename AS f
              FROM read_parquet('{c.inputs}/batches/*.parquet', filename = true)),
            latest AS (
              SELECT * FROM a QUALIFY row_number() OVER (
                PARTITION BY ticker, date ORDER BY f DESC) = 1),
            m AS (
              SELECT ticker, date, close,
                     (close - lag(close) OVER w) / lag(close) OVER w AS dr
              FROM latest WINDOW w AS (PARTITION BY ticker ORDER BY date))
            SELECT ticker, date, close, dr,
                   CASE WHEN count(dr) OVER w30 >= 2
                        THEN stddev_samp(dr) OVER w30 END,
                   year(date)
            FROM m WINDOW w30 AS (PARTITION BY ticker ORDER BY date
                                  ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
        """).fetchall()
        fails = []
        why = same_rows(got, want)
        if why:
            fails.append(f"lake: {why}")
        n_keys = self.serving.select("ticker", "date").distinct().count()
        if self.serving.count() != len(want) or n_keys != len(want):
            fails.append(f"serving: {n_keys} keys, expected {len(want)}")
        return fails

    def layers(self, log, spans):
        from observe import WRITE_NODE, span_execs, sql_metric_totals, write_execs

        # rows the increments' write commands wrote; the scans and
        # checkpoints under them count the same rows again
        inc = [s for s in spans if s["name"] == "pipeline.run_increment"]
        writes = write_execs(log, span_execs(log, inc))
        rows = sql_metric_totals(log, writes, {"number of output rows": "r"},
                                 node=WRITE_NODE)["r"]
        return {"pipeline.rows_rewritten_per_new_row":
                rows / sum(self.ctx.info["batch_new_keys"])}


# --------------------------------------------------------------------------
# market_dashboard: the app.py analytics mix over the partitioned lake


class MarketDashboard(Workload):
    name = "market_dashboard"
    sizes = {"tickers": 40, "days": 500}
    KINDS = ("trends", "final_returns", "relative", "snapshot", "top_movers",
             "latest_rows", "asof")

    def gen(self, seed, out):
        s = self.sizes
        info = gen.market(seed, out, s["tickers"], s["days"], 0, 0, 0)
        info["rows"] = info["backfill_rows"]
        info["days_us"] = gen.trading_days(s["days"])
        return info

    def setup(self, cold):
        from stock_market_etl_spark import io, pipeline

        c, t = self.ctx, self.ctx.tracer
        self.lake_dir = f"{c.work}/lake_{c.setup_no}"
        with t.span("io.load_table"):
            raw = io.load_table(c.spark, f"{c.inputs}/raw", "bars")
        with t.span("pipeline.backfill"):
            pipeline.backfill(raw, f"{self.lake_dir}/bars.parquet")
        c.bytes_written = du(self.lake_dir)
        self.rng = np.random.default_rng([c.seed, 7])
        self.results = []
        if cold:
            for kind in self.KINDS:  # warm-up: every query shape once
                self.query(kind)
            self.results = []

    #: tickers per pruned lookup; fixed per kind so every seed does the
    #: same work and only which tickers and dates it touches differs
    LOOKUP_TICKERS = {"trends": 5, "latest_rows": 1, "asof": 3}
    LOOKUP_DAYS = 120

    def _params(self, kind):
        info, rng = self.ctx.info, self.rng
        syms = info["tickers"]
        days = info["days_us"]
        if kind == "relative":
            return {"pair": [str(x) for x in rng.choice(syms, 2, replace=False)]}
        n = self.LOOKUP_TICKERS.get(kind)
        if n is None:  # whole-universe scan
            return {}
        tks = sorted(str(x) for x in rng.choice(syms, n, replace=False))
        i = int(rng.integers(0, len(days) - self.LOOKUP_DAYS))
        d0, d1 = (EPOCH + dt.timedelta(microseconds=int(days[k]))
                  for k in (i, i + self.LOOKUP_DAYS - 1))
        return {"tickers": tks, "d0": d0, "d1": d1}

    def query(self, kind):
        from pyspark.sql import functions as F

        from stock_market_etl_spark import io
        from stock_market_etl_spark.operators import asof, windows
        from stock_market_etl_spark.plans import dashboard as dash

        c, t = self.ctx, self.ctx.tracer
        p = self._params(kind)
        kw = {"key": "ticker", "time": "date", "price": "close",
              "tiebreak": "ingest_ts"}
        with t.span("io.load_table"):
            lake = io.load_table(c.spark, self.lake_dir, "bars")
        if "tickers" in p:
            pruned = lake.filter(F.col("ticker").isin(p["tickers"])
                                 & F.col("date").between(p["d0"], p["d1"]))
        layer = "operators" if kind in ("latest_rows", "asof") else "plans"
        with t.span(f"{layer}.build.{kind}"):
            if kind == "trends":
                df = dash.compute_trends(pruned, **kw).select(
                    "ticker", "date", "close", "cumulative_return", "abs_return")
            elif kind == "final_returns":
                df = dash.final_returns(lake, **kw)
            elif kind == "relative":
                df = dash.relative_returns(lake, *p["pair"], **kw)
            elif kind == "snapshot":
                with t.span("io.load_table"):
                    dim = io.load_table(c.spark, f"{c.inputs}/dim", "tickers")
                df = dash.latest_snapshot(lake, dim, "ticker", "ticker", "date",
                                          "ingest_ts").select(
                    lake["ticker"], "date", "close", "daily_return", "sector")
            elif kind == "top_movers":
                df = dash.top_movers(lake, key="ticker", time="date",
                                     return_col="daily_return",
                                     tiebreak="ingest_ts", k=5)
            elif kind == "latest_rows":
                df = windows.latest_row_per_key(pruned, "ticker", "date").select(
                    "ticker", "date", "close")
            else:
                with t.span("io.load_table"):
                    sig = io.load_table(c.spark, f"{c.inputs}/signals", "signals")
                df = asof.asof_join(pruned.select("ticker", "date", "close"), sig,
                                    on="date", key="ticker")
        with t.span(f"{layer}.exec.{kind}"):
            rows = df.collect()
        self.results.append((kind, p, rows))

    def phase(self, k):
        lat: list[float] = []
        for kind in self.KINDS:
            self.timed(lat, self.query, kind)
        if len(self.results) > 3 * len(self.KINDS):
            del self.results[: len(self.KINDS)]  # check the last passes only
        return lat

    TWINS = {
        "trends": """
            WITH f AS (SELECT * FROM lake WHERE ticker IN ({tks})
                       AND date BETWEEN '{d0}' AND '{d1}'),
            r AS (SELECT *, (close - lag(close) OVER w) / lag(close) OVER w AS dr
                  FROM f WINDOW w AS (PARTITION BY ticker ORDER BY date, ingest_ts)),
            c AS (SELECT ticker, date, close, exp(sum(ln(1 + coalesce(dr, 0)))
                    OVER (PARTITION BY ticker ORDER BY date, ingest_ts
                          ROWS UNBOUNDED PRECEDING)) AS cum FROM r)
            SELECT ticker, date, close, cum, 10000.0 * cum FROM c""",
        "final_returns": """
            WITH r AS (SELECT *, (close - lag(close) OVER w) / lag(close) OVER w AS dr
                       FROM lake WINDOW w AS (PARTITION BY ticker ORDER BY date, ingest_ts)),
            c AS (SELECT ticker, date, exp(sum(ln(1 + coalesce(dr, 0)))
                    OVER (PARTITION BY ticker ORDER BY date, ingest_ts
                          ROWS UNBOUNDED PRECEDING)) AS cum FROM r)
            SELECT ticker, arg_max(cum, date), max(date) FROM c GROUP BY ticker""",
        "relative": """
            WITH f AS (SELECT * FROM lake WHERE ticker IN ('{a}', '{b}')),
            r AS (SELECT *, (close - lag(close) OVER w) / lag(close) OVER w AS dr
                  FROM f WINDOW w AS (PARTITION BY ticker ORDER BY date, ingest_ts)),
            c AS (SELECT ticker, CAST(timezone('UTC', date) AS DATE) AS day,
                         exp(sum(ln(1 + coalesce(dr, 0)))
                    OVER (PARTITION BY ticker ORDER BY date, ingest_ts
                          ROWS UNBOUNDED PRECEDING)) AS cum FROM r)
            SELECT x.day, x.cum, y.cum, 100 * (x.cum - y.cum)
            FROM c x JOIN c y ON x.day = y.day
            WHERE x.ticker = '{a}' AND y.ticker = '{b}'""",
        "snapshot": """
            SELECT l.ticker, l.date, l.close, l.daily_return, d.sector
            FROM lake l JOIN dim d USING (ticker)
            QUALIFY row_number() OVER (PARTITION BY l.ticker
                                       ORDER BY l.date DESC, l.ingest_ts DESC) = 1""",
        "top_movers": """
            WITH l AS (SELECT ticker, daily_return AS r FROM lake
                       WHERE daily_return IS NOT NULL
                       QUALIFY row_number() OVER (PARTITION BY ticker
                         ORDER BY date DESC, ingest_ts DESC) = 1)
            (SELECT ticker, r, 'gainer' FROM l ORDER BY r DESC, ticker LIMIT 5)
            UNION ALL
            (SELECT ticker, r, 'loser' FROM l ORDER BY r ASC, ticker LIMIT 5)""",
        "latest_rows": """
            SELECT ticker, date, close FROM lake
            WHERE ticker IN ({tks}) AND date BETWEEN '{d0}' AND '{d1}'
            QUALIFY row_number() OVER (PARTITION BY ticker ORDER BY date DESC) = 1""",
        "asof": """
            WITH f AS (SELECT ticker, date, close FROM lake WHERE ticker IN ({tks})
                       AND date BETWEEN '{d0}' AND '{d1}')
            SELECT f.ticker, f.date, f.close, s.date, s.score
            FROM f ASOF LEFT JOIN sig s ON f.ticker = s.ticker AND f.date >= s.date""",
    }

    def check(self):
        c = self.ctx
        con = duck()
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"""CREATE VIEW lake AS SELECT * FROM read_parquet(
            '{self.lake_dir}/bars.parquet/**/*.parquet', hive_partitioning = 1)""")
        con.execute(f"CREATE VIEW dim AS SELECT * FROM "
                    f"read_parquet('{c.inputs}/dim/tickers.parquet')")
        con.execute(f"CREATE VIEW sig AS SELECT * FROM "
                    f"read_parquet('{c.inputs}/signals/signals.parquet')")
        fails = []
        for kind, p, rows in self.results:
            q = self.TWINS[kind].format(
                tks=", ".join(f"'{x}'" for x in p.get("tickers", [])),
                d0=p.get("d0", ""), d1=p.get("d1", ""),
                a=p.get("pair", ["", ""])[0], b=p.get("pair", ["", ""])[1])
            why = same_rows(rows, con.execute(q).fetchall())
            if why:
                fails.append(f"{kind} {p}: {why}")
        return fails


# --------------------------------------------------------------------------
# stream_drain: hourly event files through the stateful operators


class StreamDrain(Workload):
    name = "stream_drain"
    sizes = {"files": 3, "rows_per_file": 3000, "users": 40}
    #: one stateful aggregation (state store) and the two lake sinks
    DRAINS = ("ohlc_bars", "agg_partials_sink", "upsert_sink")

    def gen(self, seed, out):
        s = self.sizes
        return gen.events(seed, out, s["files"], s["rows_per_file"], s["users"])

    def setup(self, cold):
        from observe import progress_listener

        c = self.ctx
        self.listener = progress_listener()
        c.spark.streams.addListener(self.listener)
        self.n_queries = 0
        self.src = f"{c.inputs}/events"
        if cold:  # warm-up: one full phase
            self.phase(-1, warm=True)

    def _drain(self, name, base):
        from stock_market_etl_spark.streaming import core

        c, t = self.ctx, self.ctx.tracer
        stream = core.stream_documents(c.spark, self.src, max_files_per_trigger=1)
        ck = f"{base}/ck_{name}"
        with t.span(f"streaming.{name}"):
            if name == "ohlc_bars":
                core.run_available_now(core.ohlc_bars(stream), self._table(base, name),
                                       ck, "complete")
            elif name == "agg_partials_sink":
                core.agg_partials_sink(stream, f"{base}/partials", ck)
            else:
                core.upsert_sink(stream, f"{base}/upsert", ck)
        self.n_queries += 1

    @staticmethod
    def _table(base, name):
        return f"{name}_{os.path.basename(base)}"

    def phase(self, k, warm=False):
        c = self.ctx
        base = f"{c.work}/stream_{c.setup_no}_{'warm' if warm else k}"
        seen = len(self.listener.progress)
        for name in self.DRAINS:
            self._drain(name, base)
        self.listener.wait_terminated(self.n_queries)
        if warm:
            return []
        self.base = base
        done = self.listener.progress[seen:]
        self.phase_progress = done
        return [p["durationMs"]["triggerExecution"] / 1000 for p in done
                if p["numInputRows"] > 0]

    def settle(self):
        self.ctx.bytes_written = du(f"{self.base}/partials") + du(f"{self.base}/upsert")

    def check(self):
        from pyspark.sql import functions as F

        from stock_market_etl_spark.streaming import core

        c, base = self.ctx, self.base
        ev = c.spark.read.parquet(self.src)
        tab = lambda n: c.spark.table(self._table(base, n)).collect()  # noqa: E731
        r6 = lambda df: df.select(  # noqa: E731
            "user_id", "day", "n_events", F.round("sum_value", 6),
            F.round("min_value", 6), F.round("max_value", 6)).collect()
        cols = ["event_id", "user_id", "ts", "event_type", "value"]

        twins = {  # drained output and its batch twin, per drain
            "ohlc_bars": lambda: (tab("ohlc_bars"), core.ohlc_bars(ev).collect()),
            "agg_partials_sink": lambda: (
                r6(core.read_agg_state(c.spark, f"{base}/partials")),
                r6(core.daily_rollup(ev))),
            "upsert_sink": lambda: (
                c.spark.read.parquet(f"{base}/upsert").select(*cols).collect(),
                ev.select(*cols).collect()),
        }
        fails = []
        for name in self.DRAINS:
            why = same_rows(*twins[name]())
            if why:
                fails.append(f"{name}: {why}")
        return fails

    def layers(self, log, spans):
        from observe import STREAM_PHASES

        prog = self.phase_progress
        out = {"streaming.batches": float(len(prog))}
        trig = [p["durationMs"]["triggerExecution"] for p in prog]
        out["streaming.trigger_ms"] = float(np.median(trig))
        for ph in STREAM_PHASES:
            out[f"streaming.{ph}_ms"] = float(np.median(
                [p["durationMs"].get(ph, 0) for p in prog]))
        last = {}
        for p in prog:  # the final state of every stateful query
            if p["stateOperators"]:
                last[p["id"]] = p["stateOperators"]
        ops = [op for v in last.values() for op in v]
        out["streaming.state_rows"] = float(sum(o["numRowsTotal"] for o in ops))
        out["streaming.state_mem_bytes"] = float(sum(o["memoryUsedBytes"] for o in ops))
        out["streaming.state_commit_ms"] = float(sum(
            o["commitTimeMs"] for p in prog for o in p["stateOperators"]))
        return out


WORKLOADS = {w.name: w for w in (MarketLake, MarketDashboard, StreamDrain)}
