"""The benchmark's workloads. Each is a closed loop with one client:
the next operation starts only when the previous one has returned,
because analysts and the weekly DAG both wait for every reply.

A workload exposes

- ``generate()``: writes the inputs for the seed, once per run;
- ``set_up()``: one full set-up of the program (session, sources, and
  the snapshot or the history); run.py repeats it and reports the
  median;
- ``check()``: runs every distinct operation once outside the timed
  region and checks its output (a workload whose timed outputs are all
  kept checks them in ``verify()`` instead);
- ``cycle()``: one unit of timed work (a round of the request mix, or
  one weekly DAG epoch), recording latencies; run.py runs at least
  ``MIN_CYCLES`` and at most ``MAX_CYCLES`` of them;
- ``verify()``: output checks of the timed operations, after timing.

See README.md for why each workload exists and which layers it loads.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import duckdb
import pandas as pd

import inputs
from bench import _R1_ORDER, adaptive_for, shuffle_partitions_for
from databeats_spark.schemas import AUDIO_FEATURE_COLS
from probe import StageCounter, catalyst_phases, dir_bytes

WEEK = 7 * 24 * 3600
TOP_K = 20  # the app.py boards' k
T0 = 1704067200  # first snapshot week of tests/spotify_fixtures


def _session(input_dir: str, work: str):
    """A session built through the program's own policy: bench.py sizes
    shuffle partitions and adaptive execution to the input bytes."""
    from databeats_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        shuffle_partitions=shuffle_partitions_for(input_dir),
        adaptive=adaptive_for(input_dir),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )


def _describe(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


class Workload:
    """Shared bookkeeping: timings, failures and status-store readings."""

    name = ""
    MIN_CYCLES = 2  # so per-cycle figures are medians of more than one cycle
    MAX_CYCLES = 1000

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.input_dir = os.path.join(work, "inputs")
        self.spark = None
        self.layer_setup: dict[str, list[float]] = {}
        self.latencies: list[tuple[str, float]] = []  # (request type, seconds)
        self.cycles: list[dict] = []  # a failed cycle has "failed": True
        self.failures: list[str] = []  # messages, for the run record
        self.attempted = 0  # timed operations
        self.failed = 0  # timed operations that raised or gave a wrong output
        self.input_rows: dict[str, int] = {}
        self._meter = None
        self._open: dict[str, float] = {}

    # -- helpers ---------------------------------------------------------
    def _timed(self, layer: str, fn, *args):
        """Run a set-up step, recording its wall time under ``layer``."""
        with self.tracer.span(layer):
            t = time.perf_counter()
            out = fn(*args)
            self.layer_setup.setdefault(layer, []).append(time.perf_counter() - t)
        return out

    def _start_session(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = self._timed("session.get_spark", _session, self.input_dir, self.work)

    def _read(self) -> dict:
        """Status-store reading since the last one, folded into the open cycle."""
        with self.tracer.span("probe.status_store"):
            d = self._meter.read(skew=self.tracer.enabled)
        for k, v in d.items():
            if k == "task_skew":
                self._open[k] = max(self._open.get(k, 1.0), v)
            else:
                self._open[k] = self._open.get(k, 0) + v
        return d

    def check(self) -> None:
        pass

    def begin_timing(self) -> None:
        self._meter = StageCounter(self.spark)

    def _close_cycle(self, **fields) -> None:
        self._read()
        self.cycles.append({**self._open, **fields})
        self._open = {}

    def _fail(self, what: str, err: BaseException | str, ops: int = 1) -> None:
        """Record a failure; ``ops`` timed operations failed with it
        (0 for a check made before timing)."""
        msg = err if isinstance(err, str) else _describe(err)
        self.failures.append(f"{what}: {msg}")
        self.failed += ops

    def session_info(self) -> dict:
        conf = self.spark.conf
        return {
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "adaptive": conf.get("spark.sql.adaptive.enabled") == "true",
            "master": self.spark.sparkContext.master,
            "input_rows": self.input_rows,
            "input_bytes": dir_bytes(self.input_dir),
        }

    def detail(self) -> dict:
        """Raw figures for the run record."""
        return {"latencies_ms": [[k, round(v * 1e3, 3)] for k, v in self.latencies]}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


# ----------------------------------------------------------------------
# The dashboard's request types: bench.py's frozen headline registry
# queries, in bench.py's order, and the app.py calls.
REGISTRY_TYPES = tuple(_R1_ORDER)
APP_TYPES = (
    "top_tracks_by.popularity", "top_tracks_by.chart", "top_tracks_sql",
    "genre_explode_counts", "audio_comparison",
)
DASHBOARD_TYPES = (*REGISTRY_TYPES, *APP_TYPES)


class Dashboard(Workload):
    """Analyst clicks: the frozen headline registry queries plus the
    app.py calls over a curated Spotify snapshot."""

    name = "dashboard"
    sf = 0.01
    # app.py calls per round, each; registry queries once. Two rounds
    # (48 requests) put ten samples beyond the 75th percentile.
    APP_REPEAT = 2

    def __init__(self, work, seed, tracer, sf=None, spotify_size=None):
        super().__init__(work, seed, tracer)
        self.sf = sf or self.sf
        self.spotify_size = spotify_size or {}
        self.snap_dir = os.path.join(work, "snapshot")
        self.expected_n: dict[str, int] = {}  # app request type -> row count DuckDB expects
        self.bad_types: set[str] = set()
        self.app_rows: list[tuple[str, list]] = []
        self.build_ms: list[float] = []
        self.phases: list[dict] = []

    def generate(self) -> None:
        _fresh_dir(self.input_dir)
        self.input_rows = inputs.write_tables(self.input_dir, self.sf, self.seed)
        frames = inputs.spotify_weeks(self.seed, **self.spotify_size)
        for name, pdf in zip(("tracks", "artists", "albums", "audio"), frames):
            _write_parquet(pdf, os.path.join(self.input_dir, f"spotify_{name}.parquet"))
            self.input_rows[f"spotify_{name}"] = len(pdf)
        last = frames[1]["timestamp"].max()
        names = sorted(frames[1].loc[frames[1]["timestamp"] == last, "artist_name"].unique())
        self.pair = random.Random(self.seed).sample(names, 2)
        self.as_of = int(last) + WEEK
        with self.tracer.span("snapshot.build"):
            self._build_snapshot()

    def _build_snapshot(self):
        """The curated snapshot app.py reads, built by the program's own
        ETL. In the deployed system the weekly DAG builds it (and
        weekly_refresh times that), so it is an input here: built once
        per run, and opened by every set-up."""
        from databeats_spark.plans import etl

        self.spark = _session(self.input_dir, self.work)
        read = lambda n: self.spark.read.parquet(os.path.join(self.input_dir, f"spotify_{n}.parquet"))  # noqa: E731
        r = {n: read(n) for n in ("tracks", "artists", "albums", "audio")}
        out = etl.transform(r["tracks"], r["artists"], r["albums"], r["audio"], as_of_unix=self.as_of)
        _fresh_dir(self.snap_dir)
        for name in ("tracks", "artists"):  # the tables app.py reads
            etl.write_snapshot(getattr(out, name), os.path.join(self.snap_dir, name))

    def set_up(self) -> None:
        self._start_session()
        self._timed("sources.load", self._load)

    def _load(self):
        from databeats_spark.registry import queries
        from databeats_spark.sources.files import read_snapshot_table
        from databeats_spark.sources.tables import load_tables

        load_tables(self.spark, self.input_dir)
        self.tracks = read_snapshot_table(self.spark, os.path.join(self.snap_dir, "tracks"))
        self.artists = read_snapshot_table(self.spark, os.path.join(self.snap_dir, "artists"))
        self.reg = queries()

    def _app_df(self, kind: str):
        from databeats_spark.plans import analytics as A

        if kind == "top_tracks_by.popularity":
            return A.top_tracks_by(self.tracks, "popularity")
        if kind == "top_tracks_by.chart":
            return A.top_tracks_by(self.tracks, "chart")
        if kind == "top_tracks_sql":
            return A.top_tracks_sql(self.spark, self.tracks)
        if kind == "genre_explode_counts":
            return A.genre_explode_counts(self.artists)
        return A.audio_comparison(self.tracks, self.artists, *self.pair)

    # -- output checks ---------------------------------------------------
    def check(self) -> None:
        from databeats_spark.registry import oracle_sql

        # scripts/driver_sim.py's canonical order-insensitive value hash
        from scripts.driver_sim import vhash

        oracles = oracle_sql()
        con = duckdb.connect()
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.input_dir}/{t}.parquet'")
        for kind in REGISTRY_TYPES:
            try:
                got = self.reg[kind](self.spark, self.input_dir).toPandas()
                if kind in oracles:
                    want = con.execute(oracles[kind]).fetchdf()
                    ok = sorted(got.columns) == sorted(want.columns) and len(got) == len(want) and vhash(got) == vhash(want)
                    problem = None if ok else f"oracle mismatch ({len(got)} vs {len(want)} rows)"
                else:
                    problem = "no rows" if got.empty else None
            except Exception as e:  # a failing query is reported, never dropped
                problem = _describe(e)
            if problem:
                self._fail(kind, problem, ops=0)
                self.bad_types.add(kind)
        snap = duckdb.connect()
        snap.execute(f"CREATE VIEW tracks AS SELECT * FROM '{self.snap_dir}/tracks/*.parquet'")
        snap.execute(f"CREATE VIEW artists AS SELECT * FROM '{self.snap_dir}/artists/*.parquet'")
        for kind in APP_TYPES:
            try:
                self.expected_n[kind] = expected_rows(kind, snap, self.pair)
                problem = app_rows_problem(kind, [tuple(r) for r in self._app_df(kind).collect()],
                                           self.expected_n[kind], self.pair)
            except Exception as e:
                problem = _describe(e)
            if problem:
                self._fail(kind, problem, ops=0)
                self.bad_types.add(kind)

    # -- timed work ------------------------------------------------------
    def cycle(self) -> None:
        order = [*REGISTRY_TYPES, *APP_TYPES * self.APP_REPEAT]
        random.Random(self.seed * 7919 + len(self.cycles)).shuffle(order)
        wall = 0.0
        with self.tracer.span("round"):
            for kind in order:
                wall += self._request(kind)
        self._close_cycle(wall_s=wall, requests=len(order))

    def _request(self, kind: str) -> float:
        tr = self.tracer
        self.attempted += 1
        tr.request = self.attempted
        rows, raised = None, False
        t0 = time.perf_counter()
        try:
            with tr.span("request", type=kind):
                if kind in REGISTRY_TYPES:
                    with tr.span("registry.build"):
                        tb = time.perf_counter()
                        df = self.reg[kind](self.spark, self.input_dir)
                        self.build_ms.append((time.perf_counter() - tb) * 1e3)
                    if tr.enabled:  # jobs an eager builder ran
                        self._open["build_jobs"] = self._open.get("build_jobs", 0) + self._read()["jobs"]
                else:
                    with tr.span("plans.analytics"):
                        df = self._app_df(kind)
                if tr.enabled:
                    with tr.span("catalyst"):
                        self.phases.append(catalyst_phases(df))
                with tr.span("execute"):
                    if kind in REGISTRY_TYPES:
                        df.write.mode("overwrite").format("noop").save()
                    else:
                        rows = df.collect()
                if tr.enabled:
                    self._read()
        except Exception as e:
            self._fail(kind, e)
            raised = True
        dt = time.perf_counter() - t0
        self.latencies.append((kind, dt))
        if rows is not None:
            self.app_rows.append((kind, [tuple(r) for r in rows]))
        if kind in self.bad_types and not raised:
            self._fail(kind, "output failed its check")
        tr.request = None
        return dt

    def verify(self) -> None:
        for kind, rows in self.app_rows:
            if kind not in self.bad_types:
                problem = app_rows_problem(kind, rows, self.expected_n[kind], self.pair)
                if problem:
                    self._fail(kind, problem)

    def layer_extras(self) -> dict:
        return {
            "registry.build_ms": _median(self.build_ms),
            "registry.build_jobs": _median([c.get("build_jobs", 0) for c in self.cycles]),
            "catalyst.analysis_ms": _median([p["analysis"] for p in self.phases]),
            "catalyst.optimization_ms": _median([p["optimization"] for p in self.phases]),
            "catalyst.planning_ms": _median([p["planning"] for p in self.phases]),
            "sinks.bytes_per_row": _bytes_per_row(os.path.join(self.snap_dir, "tracks")),
            **{
                f"dashboard.{t}.p50_ms": _median([s * 1e3 for k, s in self.latencies if k == t])
                for t in DASHBOARD_TYPES
            },
        }


def expected_rows(kind: str, snap, pair) -> int:
    """The row count an app.py call must return, counted by DuckDB over
    the same snapshot files."""
    if kind == "audio_comparison":
        return snap.execute(
            "SELECT count(*) FROM tracks JOIN (SELECT DISTINCT artist_id FROM artists "
            "WHERE artist_name IN (?, ?)) USING (artist_id)", list(pair),
        ).fetchone()[0]
    if kind == "genre_explode_counts":
        # explode_outer: an empty or null genre list counts as a null genre
        n = snap.execute(
            "SELECT count(DISTINCT g) + max(CASE WHEN g IS NULL THEN 1 ELSE 0 END) FROM "
            "(SELECT unnest(CASE WHEN len(genre) > 0 THEN genre ELSE [NULL] END) AS g FROM artists)"
        ).fetchone()[0]
    else:
        metric = kind.split(".")[1] if "." in kind else "popularity"
        counted = "DISTINCT track_name" if kind.startswith("top_tracks_by") else "*"
        n = snap.execute(
            f"SELECT count({counted}) FROM tracks WHERE {metric} IS NOT NULL AND track_name IS NOT NULL"
        ).fetchone()[0]
    return min(TOP_K, n)


def app_rows_problem(kind: str, rows: list[tuple], n: int, pair) -> str | None:
    """Row count and top-k ordering of one app.py result, or None."""
    if len(rows) != n:
        return f"{len(rows)} rows, expected {n}"
    if kind == "audio_comparison":
        return "rows outside the compared artists" if {r[0] for r in rows} - set(pair) else None
    if kind == "genre_explode_counts":
        key = lambda r: (-r[1], r[0] is not None, r[0] or "")  # noqa: E731
    else:
        if kind.startswith("top_tracks_by") and len({r[0] for r in rows}) != len(rows):
            return "track names repeat"
        key = lambda r: (-r[2], r[0])  # noqa: E731
    return None if rows == sorted(rows, key=key) else "rows out of top-k order"


# ----------------------------------------------------------------------
class WeeklyRefresh(Workload):
    """One weekly DAG epoch after another: ETL with history, dual sinks,
    model retrain, recommender refit, then a burst of recommendations."""

    name = "weekly_refresh"
    HISTORY_WEEKS = 1
    EPOCHS = 8  # generated fresh weeks, one per timed epoch
    MAX_CYCLES = EPOCHS
    RECOMMENDS = 20  # recommend requests after each refit
    CHECK_RECOMMENDS = 4
    # a quarter of the reference corpus (see README.md for why)
    SIZE = {"n_artists": 404, "n_albums": 1012, "n_tracks": 2042}

    def __init__(self, work, seed, tracer, size=None, recommends=None):
        super().__init__(work, seed, tracer)
        self.size = {**self.SIZE, **(size or {}), "n_weeks": self.HISTORY_WEEKS + self.EPOCHS}
        self.recommends = recommends or self.RECOMMENDS
        self.store = os.path.join(work, "store")
        self.epoch_log: list[dict] = []
        self.rec_log: list[tuple[list[str], list[tuple]]] = []

    def generate(self) -> None:
        _fresh_dir(self.input_dir)
        tracks, artists, albums, audio = inputs.spotify_weeks(self.seed, **self.size)
        for name, pdf in (("tracks", tracks), ("artists", artists), ("albums", albums)):
            for w in range(self.size["n_weeks"]):
                part = pdf[pdf["timestamp"] == T0 + w * WEEK]
                _write_parquet(part, os.path.join(self.input_dir, f"{name}_w{w:02d}.parquet"))
            self.input_rows[name] = len(pdf)
        _write_parquet(audio, os.path.join(self.input_dir, "audio.parquet"))
        self.input_rows["audio"] = len(audio)

    def set_up(self) -> None:
        self._start_session()
        self._timed("sources.load", self._load)
        self._timed("sinks.seed_history", self._seed_history)
        self.week = self.HISTORY_WEEKS

    def _extract(self, name: str, weeks):
        paths = [os.path.join(self.input_dir, f"{name}_w{w:02d}.parquet") for w in weeks]
        return self.spark.read.parquet(*paths)

    def _load(self):
        self.audio = self.spark.read.parquet(os.path.join(self.input_dir, "audio.parquet"))

    def _seed_history(self):
        from databeats_spark.plans import etl

        _fresh_dir(self.store)
        for name in ("tracks", "artists", "albums"):
            etl.write_history(self._extract(name, range(self.HISTORY_WEEKS)), self._path("history", name))

    def _path(self, kind: str, name: str) -> str:
        return os.path.join(self.store, f"{kind}_{name}")

    def check(self) -> None:
        """Serve and check a few recommendations from a recommender fitted
        on the seeded history, before timing. Without them the first
        timed burst runs on a JIT-cold recommend path, and the tail
        latency follows the JIT more than the program."""
        from databeats_spark.ml.recommender import SongRecommender
        from databeats_spark.sources.files import read_history_table

        tracks = read_history_table(self.spark, self._path("history", "tracks"))
        model = SongRecommender.fit(
            tracks.select("track_id", "track_name", "artist_id", "popularity"), self.audio, seed=self.seed
        )
        names = sorted(r[0] for r in tracks.select("track_name").distinct().collect() if r[0] is not None)
        rng = random.Random(self.seed)
        for _ in range(self.CHECK_RECOMMENDS):
            picked = rng.sample(names, 3)
            problem = _recommend_problem(picked, [tuple(r) for r in model.recommend(picked).collect()])
            if problem:
                self._fail("check recommend", problem, ops=0)

    def cycle(self) -> None:
        """One weekly epoch. Its outputs are kept and checked by
        ``verify`` after timing, so no epoch runs untimed, and the first
        timed epoch is the JIT-colder one."""
        from databeats_spark.ml.recommender import SongRecommender
        from databeats_spark.plans import etl, training
        from databeats_spark.sources.files import read_history_table, read_snapshot_table

        tr, w = self.tracer, self.week
        self.week += 1
        rec = {"week": w}
        # the epoch's batch steps (ETL, training) and its recommend requests
        ops = 2 + self.recommends
        self.attempted += ops
        t0 = time.perf_counter()
        try:
            with tr.span("epoch", week=w):
                with tr.span("sources.read"):
                    hist = {n: read_history_table(self.spark, self._path("history", n)).drop("__week")
                            for n in ("tracks", "artists", "albums")}
                    fresh = {n: self._extract(n, [w]) for n in ("tracks", "artists", "albums")}
                with tr.span("plans.etl.transform"):
                    tb = time.perf_counter()
                    out = etl.transform(
                        fresh["tracks"], fresh["artists"], fresh["albums"], self.audio,
                        hist["tracks"], hist["artists"], hist["albums"],
                        as_of_unix=T0 + w * WEEK,
                    )
                    rec["transform_s"] = time.perf_counter() - tb
                tw = time.perf_counter()
                with tr.span("sinks.write_history"):
                    for n in ("tracks", "artists", "albums"):
                        etl.write_history(fresh[n], self._path("history", n))
                with tr.span("sinks.write_snapshot"):
                    for n in ("tracks", "artists", "albums"):
                        etl.write_snapshot(getattr(out, n), self._path("snapshot", n))
                rec["write_s"] = time.perf_counter() - tw
                rec["etl_s"] = time.perf_counter() - t0
                if tr.enabled:
                    self._read()

                t1 = time.perf_counter()
                with tr.span("ml.retrain"):
                    res = training.weekly_retrain(
                        self.spark, self._path("snapshot", "tracks"), os.path.join(self.store, "model"),
                        algo="lr", seed=self.seed,
                    )
                rec["retrain_s"] = time.perf_counter() - t1
                if tr.enabled:
                    rec["retrain_jobs"] = self._read()["jobs"]
                tf = time.perf_counter()
                with tr.span("ml.recommender_fit"):
                    snap = read_snapshot_table(self.spark, self._path("snapshot", "tracks"))
                    model = SongRecommender.fit(
                        snap.select("track_id", "track_name", "artist_id", "popularity"), self.audio, seed=self.seed
                    )
                rec["fit_s"] = time.perf_counter() - tf
                rec["train_s"] = time.perf_counter() - t1
                rec["rmse"], rec["n_rows"] = res.rmse, res.n_rows
        except Exception as e:  # the recommends after it are never made: they fail too
            self._fail(f"epoch {w}", e, ops=ops)
            self._close_cycle(wall_s=time.perf_counter() - t0, requests=0, failed=True)
            return
        # outside timing: the names the burst asks about, and the checks'
        # reference figures for this epoch's snapshot
        rec.update(self._snapshot_facts())
        names = rec.pop("track_names")
        rng = random.Random(self.seed * 104729 + w)
        wall = rec["etl_s"] + rec["train_s"]
        for _ in range(self.recommends):
            wall += self._recommend(model, rng.sample(names, 3))
        self.epoch_log.append(rec)
        self._close_cycle(wall_s=wall, requests=self.recommends)

    def _recommend(self, model, names: list[str]) -> float:
        tr = self.tracer
        tr.request = len(self.latencies) + 1  # counted in attempted with its epoch
        t0 = time.perf_counter()
        try:
            with tr.span("ml.recommend"):
                rows = [tuple(r) for r in model.recommend(names).collect()]
            self.rec_log.append((names, rows))
        except Exception as e:
            self._fail("recommend", e)
        dt = time.perf_counter() - t0
        self.latencies.append(("recommend", dt))
        tr.request = None
        return dt

    def _snapshot_facts(self) -> dict:
        con = duckdb.connect()
        feats = " AND ".join(f"{c} IS NOT NULL" for c in AUDIO_FEATURE_COLS)
        base, n, distinct = con.execute(
            f"SELECT stddev_pop(popularity) FILTER (WHERE {feats}), count(*), count(DISTINCT track_id) "
            f"FROM '{self._path('snapshot', 'tracks')}/*.parquet'"
        ).fetchone()
        names = con.execute(
            f"SELECT DISTINCT track_name FROM '{self._path('snapshot', 'tracks')}/*.parquet' "
            "WHERE track_name IS NOT NULL ORDER BY 1"
        ).fetchall()
        return {
            "track_names": [r[0] for r in names],
            "mean_predictor_rmse": base,
            "snapshot_rows": n,
            "snapshot_distinct_tracks": distinct,
            "bytes_per_row": _bytes_per_row(self._path("snapshot", "tracks")),
        }

    def verify(self) -> None:
        for e in self.epoch_log:
            if not e["snapshot_rows"] or e["snapshot_distinct_tracks"] != e["snapshot_rows"]:
                self._fail(f"epoch {e['week']} etl", "snapshot empty or track ids repeat")
            if not e["rmse"] < e["mean_predictor_rmse"]:
                self._fail(
                    f"epoch {e['week']} retrain",
                    f"RMSE {e['rmse']:.3f} not below the mean predictor's {e['mean_predictor_rmse']:.3f}",
                )
        for names, rows in self.rec_log:
            problem = _recommend_problem(names, rows)
            if problem:
                self._fail("recommend", problem)

    def detail(self) -> dict:
        return {**super().detail(), "epochs": self.epoch_log}

    def layer_extras(self) -> dict:
        col = lambda k: _median([e[k] for e in self.epoch_log if k in e])  # noqa: E731
        return {
            "plans.etl.transform_s": col("transform_s"),
            "plans.etl.write_s": col("write_s"),
            "sinks.bytes_per_row": col("bytes_per_row"),
            "ml.retrain_s": col("retrain_s"),
            "ml.retrain_jobs": col("retrain_jobs"),
            "ml.recommender_fit_s": col("fit_s"),
            "ml.recommend_ms": _median([s * 1e3 for _, s in self.latencies]),
        }


def _recommend_problem(names: list[str], rows: list[tuple]) -> str | None:
    """Recommendations must exist and must not repeat the input tracks."""
    if not rows:
        return f"no recommendations for {names}"
    if {r[0] for r in rows} & set(names):
        return f"recommendations repeat the input tracks {names}"
    return None


def _bytes_per_row(path: str) -> float:
    rows = duckdb.connect().execute(f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]
    return dir_bytes(path) / rows if rows else 0.0


def _median(values) -> float:
    values = sorted(v for v in values if v is not None)
    if not values:
        return 0.0
    mid = len(values) // 2
    return float(values[mid]) if len(values) % 2 else (values[mid - 1] + values[mid]) / 2.0


WORKLOADS = {w.name: w for w in (Dashboard, WeeklyRefresh)}
