"""The three workloads and the client that drives them.

Every workload is a closed loop with one client: the next call goes out
only after the previous reply is back. A workload has a ``setup`` (store
backfill or cold pass, cold cache builds; counted in ``setup_s``), a
``run_pass`` that the run repeats while ``more`` says so, and a
``verify`` for the checks that need the final state. Output checks never run inside
a timed region.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from datetime import datetime, timedelta

import numpy as np

from perfbench import checks, stats
from perfbench.trace import Tracer


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the JVM and the Python workers, live or exited."""
    parent: dict[int, int] = {}
    used: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(name)
        parent[pid] = int(fields[1])
        # utime, stime, and the same for reaped children
        used[pid] = sum(int(x) for x in fields[11:15])
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    return sum(used[p] for p in tree if p in used) / os.sysconf("SC_CLK_TCK")


class Client:
    """Times calls into the package and counts attempts and failures."""

    def __init__(self, spark, tracer: Tracer, data_dir: str, store_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.store_dir = store_dir
        #: op kind -> latencies in seconds
        self.lat: dict[str, list[float]] = defaultdict(list)
        #: op kind -> CPU seconds of the process tree during each op
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failures: list[str] = []
        self.checks_run = 0

    def timed(self, kind: str, name: str, fn):
        """Run ``fn`` as one op inside span ``name``; a raise counts as a
        failed op and returns None."""
        self.attempted += 1
        t0, c0 = time.perf_counter(), cpu_seconds()
        try:
            with self.tracer.span(name, "op"):
                out = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a result, not a crash
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return None
        self.lat[kind].append(time.perf_counter() - t0)
        self.cpu[kind].append(cpu_seconds() - c0)
        return out

    def query(self, kind: str, name: str, action: str):
        """Construct registry query ``name`` and run ``action`` on it:
        ``noop`` (batch sink), ``collect`` (rows) or ``pandas``."""
        from aqi_featurestore_spark.plans import QUERIES

        def run():
            with self.tracer.span(f"q.{name}.construct", "plans"):
                df = QUERIES[name](self.spark, self.data_dir)
            with self.tracer.span(f"q.{name}.exec", "exec"):
                if action == "noop":
                    df.write.format("noop").mode("overwrite").save()
                    return None
                if action == "collect":
                    return df.collect()
                return df.toPandas()

        return self.timed(kind, f"q.{name}", run)

    def check(self, what: str, fn) -> None:
        """Run output check ``fn`` (returns None or a reason) untimed."""
        self.checks_run += 1
        with self.tracer.span(f"check.{what}", "verify"):
            try:
                reason = fn()
            except Exception as e:  # noqa: BLE001 - a crashed check is a failed check
                reason = f"{type(e).__name__}: {str(e)[:200]}"
        if reason:
            self.failures.append(f"check {what}: {reason}")


class QueryWorkload:
    """Passes over a fixed list of registry queries, in a seeded order."""

    name = ""
    sizes: dict[str, int] = {}
    #: (query name, op kind, action in measured passes)
    ops: list[tuple[str, str, str]] = []
    #: queries whose construction reads a session cache
    cached: frozenset[str] = frozenset()
    read_kind = "query"
    #: run one untimed pass between set-up and the measured passes
    warm_pass = True

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 10])
        self.reference: dict[str, list] = {}

    def setup(self, c: Client, seconds: float) -> dict[str, float]:
        """Cold pass: the first construction builds every session cache;
        each output is kept for the oracle check and as the reference the
        measured serve outputs must repeat."""
        from aqi_featurestore_spark.plans import ORACLE_SQL

        t0 = time.perf_counter()
        cold = {n: c.query("cold", n, "pandas") for n, _k, _a in self.ops}
        cold_s = time.perf_counter() - t0
        con = checks.duck(c.data_dir)
        for n, pdf in cold.items():
            if pdf is None:
                continue
            self.reference[n] = checks.canonical_rows(pdf)
            sql = ORACLE_SQL.get(n)
            if sql is not None:
                c.check(f"oracle.{n}", lambda p=pdf, s=sql: checks.oracle_mismatch(con, p, s))
        con.close()
        return {"cold_pass_s": cold_s}

    def more(self, walls: list[float], remaining: float) -> bool:
        """Passes are alike, so the run repeats them while the median pass
        still fits in the time left."""
        return remaining >= stats.median(walls)

    def run_pass(self, c: Client) -> tuple[float, float]:
        """One pass over the queries; returns its wall and CPU seconds."""
        order = self.rng.permutation(len(self.ops))
        served = []
        t0, c0 = time.perf_counter(), cpu_seconds()
        for i in order:
            n, kind, action = self.ops[i]
            out = c.query(kind, n, action)
            if out is not None:
                served.append((n, out))
        wall, cpu = time.perf_counter() - t0, cpu_seconds() - c0
        for n, rows in served:
            c.check(f"repeat.{n}", lambda n=n, rows=rows: self._same_as_cold(n, rows))
        return wall, cpu

    def _same_as_cold(self, name: str, rows) -> str | None:
        import pandas as pd

        got = checks.canonical_rows(pd.DataFrame([r.asDict() for r in rows]))
        if name in self.reference and got != self.reference[name]:
            return f"{len(got)} rows differ from the cold-pass output"
        return None

    def verify(self, c: Client) -> dict[str, float]:
        return {}


class TextCuration(QueryWorkload):
    """The cache-free LLM text families: text expressions (``lang_id``,
    ``quality_score``), a near-dedup shuffle (``ngram_jaccard_pairs``) and
    a batched Arrow pair scan (``similarity_topk_cosine``). No store, no
    writes, no session cache."""

    name = "text_curation"
    sizes = {"documents": 500, "embeddings": 500}
    ops = [
        (n, "query", "noop")
        for n in ("lang_id", "quality_score", "ngram_jaccard_pairs", "similarity_topk_cosine")
    ]


class AnnServing(QueryWorkload):
    """Top-k serving from the session ANN store: the first construction
    fits the coarse and PQ codebooks and writes the index; every later
    construction reads the cached store."""

    name = "ann_serving"
    sizes = {"embeddings": 500}
    ops = [
        ("ann_index_serve", "serve", "collect"),
        ("ann_filtered_topk", "serve", "collect"),
    ]
    cached = frozenset(n for n, _k, _a in ops)
    read_kind = "serve"


# -- feature store lifecycle ------------------------------------------------

START = datetime(2024, 1, 1)
V1 = "aqi_info_v1"
V2 = "aqi_info_v2"
V1_COLS = ["entity_id", "feature_timestamp", "aqi", "hour"]
V2_COLS = ["entity_id", "feature_timestamp", "aqi", "value", "dayOfWeek"]
V1_TTL = timedelta(days=7)
V2_TTL = timedelta(days=3)
HISTORICAL = [f"{V1}:aqi", f"{V1}:hour", f"{V2}:value", f"{V2}:dayOfWeek"]


class StoreLifecycle:
    """The reference's lifecycle through ``FeatureStore``: a one-week
    backfill, then one pass per replayed day of ``events`` — both views
    written offline, the online snapshot upserted, a burst of online
    lookups and one point-in-time historical pull across both views.
    Seeded days re-append an already-ingested day, which the dedup gate
    must commit as zero rows.

    The number of replayed days follows from ``--seconds`` alone
    (``DAY_S`` per day), never from how fast the passes run, so every
    commit measures the same days over the same store sizes."""

    name = "store_lifecycle"
    sizes = {"events": 100_000, "entities": 1_500, "days": 30}
    read_kind = "get_online"
    cached: frozenset[str] = frozenset()
    #: the cold pass's first lookup and historical pull warm the read
    #: path; a warm-up day would cost a replayed day and, measured, left
    #: the pass-to-pass spread no lower
    warm_pass = False
    BACKFILL_DAYS = 7
    #: nominal seconds per replayed day, which sets the day count
    DAY_S = 5.0
    LOOKUPS_PER_DAY = 4
    KEYS = 64
    SPINE_ROWS = 2_000
    REAPPEND_P = 0.25

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 10])
        self.unknown_share = float(self.rng.uniform(0.05, 0.2))
        #: rows offered to the v1 history, re-appends included
        self.offered = 0
        #: distinct rows ingested: what v1 must hold, and what the online
        #: snapshot upserts were offered
        self.expected_rows = 0

    def _day(self, d: int) -> datetime:
        return START + timedelta(days=d)

    def setup(self, c: Client, seconds: float) -> dict[str, float]:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from aqi_featurestore_spark.pipeline import derive_features
        from aqi_featurestore_spark.registry import FeatureView
        from aqi_featurestore_spark.sources.testdata import read_events
        from aqi_featurestore_spark.store import FeatureStore

        self.F = F
        ts = pq.read_table(os.path.join(c.data_dir, "events.parquet"), columns=["ts"])
        us = ts.column("ts").to_numpy().astype("datetime64[us]")
        day_idx = (us - np.datetime64(START, "us")) // np.timedelta64(1, "D")
        self.day_rows = np.bincount(day_idx.astype(np.int64), minlength=self.sizes["days"])
        self.entities = [str(u) for u in self.rng.permutation(self.sizes["entities"])]
        w = 1.0 / np.arange(1, len(self.entities) + 1) ** 1.1
        self.zipf = w / w.sum()

        self.days = max(
            1,
            min(self.sizes["days"] - self.BACKFILL_DAYS, round(seconds / self.DAY_S)),
        )
        self.fs = FeatureStore(c.spark, c.store_dir)
        for name, feats, ttl in (
            (V1, (("aqi", "double"), ("hour", "int")), V1_TTL),
            (V2, (("aqi", "double"), ("value", "double"), ("dayOfWeek", "int")), V2_TTL),
        ):
            self.fs.apply(FeatureView(name, ("entity_id",), ttl, feats, f"offline/{name}"))
        self.features = derive_features(read_events(c.spark, c.data_dir))
        self.con = checks.duck(c.data_dir)

        t0 = time.perf_counter()
        self._ingest(c, 0, self.BACKFILL_DAYS, "ingest_cold")
        self.next_day = self.BACKFILL_DAYS
        self._lookup(c, "cold", check=True)
        self._historical(c, "cold", check=True)
        return {"cold_pass_s": time.perf_counter() - t0 - self._check_s}

    # -- ops -------------------------------------------------------------

    _check_s = 0.0
    _check_cpu = 0.0

    def _checked(self, c: Client, what: str, fn) -> None:
        t0, c0 = time.perf_counter(), cpu_seconds()
        c.check(what, fn)
        self._check_s += time.perf_counter() - t0
        self._check_cpu += cpu_seconds() - c0

    def _batch(self, d0: int, d1: int):
        F = self.F
        ts = F.col("feature_timestamp")
        return self.features.where(
            (ts >= F.lit(self._day(d0).isoformat(" ")).cast("timestamp"))
            & (ts < F.lit(self._day(d1).isoformat(" ")).cast("timestamp"))
        )

    def _ingest(self, c: Client, d0: int, d1: int, kind: str) -> None:
        batch = self._batch(d0, d1)
        rows = int(self.day_rows[d0:d1].sum())

        def run():
            for view, cols in ((V1, V1_COLS), (V2, V2_COLS)):
                with c.tracer.span("store.write_offline", "store"):
                    self.fs.write_offline(view, batch.select(*cols))
            with c.tracer.span("store.write_online", "store"):
                self.fs.write_to_online_store(V1, batch.select(*V1_COLS))

        c.timed(kind, "ingest", run)
        self.offered += rows
        self.expected_rows += rows
        self.upto = self._day(d1)

    def _reappend(self, c: Client) -> None:
        d = int(self.rng.integers(0, self.next_day))
        batch = self._batch(d, d + 1).select(*V1_COLS)

        def run():
            with c.tracer.span("store.write_offline", "store"):
                self.fs.write_offline(V1, batch)

        c.timed("reappend", "reappend", run)
        self.offered += int(self.day_rows[d])

    def _keys(self, n: int) -> list[str]:
        known = self.rng.choice(len(self.entities), n, p=self.zipf)
        unknown = self.rng.random(n) < self.unknown_share
        return [
            f"unknown-{k}" if u else self.entities[k] for k, u in zip(known, unknown)
        ]

    def _lookup(self, c: Client, kind: str, *, check: bool) -> None:
        F = self.F
        keys = self._keys(self.KEYS)
        rows = c.spark.createDataFrame([(k,) for k in keys], "entity_id string")
        as_of = self.upto

        def run():
            with c.tracer.span("store.get_online", "store"):
                return self.fs.get_online_features(
                    V1, rows, as_of=F.lit(as_of.isoformat(" ")).cast("timestamp")
                ).toPandas()

        out = c.timed(kind, "get_online", run)
        if check and out is not None:
            upto = self.upto
            self._checked(
                c,
                "online_lookup",
                lambda: checks.mismatch(
                    out,
                    checks.expected_online(self.con, keys, upto, as_of, V1_TTL, ["aqi", "hour"]),
                    numeric_as_float=True,
                ),
            )

    def _historical(self, c: Client, kind: str, *, check: bool) -> None:
        import pandas as pd

        F = self.F
        span_s = int((self.upto - START).total_seconds())
        secs = self.rng.integers(0, span_s, self.SPINE_ROWS)
        spine_pd = pd.DataFrame(
            {
                "entity_id": self._keys(self.SPINE_ROWS),
                "event_timestamp": [START + timedelta(seconds=int(s)) for s in secs],
            }
        )
        spine = c.spark.createDataFrame(
            [(k, t.isoformat(" ")) for k, t in zip(spine_pd.entity_id, spine_pd.event_timestamp)],
            "entity_id string, event_timestamp string",
        ).withColumn("event_timestamp", F.col("event_timestamp").cast("timestamp"))

        def run():
            with c.tracer.span("store.get_historical", "store"):
                return self.fs.get_historical_features(spine, HISTORICAL).toPandas()

        out = c.timed(kind, "get_historical", run)
        if check and out is not None:
            upto = self.upto
            self._checked(
                c,
                "historical",
                lambda: checks.mismatch(
                    out,
                    checks.expected_historical(
                        self.con,
                        spine_pd,
                        upto,
                        [(V1_TTL, ["aqi", "hour"]), (V2_TTL, ["value", "dayOfWeek"])],
                    ),
                    numeric_as_float=True,
                ),
            )

    # -- passes ----------------------------------------------------------

    def more(self, walls: list[float], remaining: float) -> bool:
        return len(walls) < self.days

    def run_pass(self, c: Client) -> tuple[float, float]:
        """One replayed day; returns its wall and CPU seconds. The
        re-append and the checks are not counted."""
        d = self.next_day
        self._check_s = self._check_cpu = 0.0
        t0, c0 = time.perf_counter(), cpu_seconds()
        self._ingest(c, d, d + 1, "ingest")
        for i in range(self.LOOKUPS_PER_DAY):
            self._lookup(c, "get_online", check=i == 0)
        self._historical(c, "get_historical", check=True)
        wall = time.perf_counter() - t0 - self._check_s
        cpu = cpu_seconds() - c0 - self._check_cpu
        self.next_day = d + 1
        if self.rng.random() < self.REAPPEND_P:
            self._reappend(c)
        return wall, cpu

    def verify(self, c: Client) -> dict[str, float]:
        """Committed rows equal distinct rows offered (re-appends commit
        nothing); the upserted snapshot equals ``materialize()`` of the
        offline history. Returns the store-shape figures."""
        committed = {v: self.fs.read_offline(v).count() for v in (V1, V2)}
        c.check(
            "dedup_gate",
            lambda: None
            if committed[V1] == self.expected_rows
            else f"{committed[V1]} rows committed, {self.expected_rows} expected",
        )
        online = os.path.join(c.store_dir, "online", V1)
        upserted = c.spark.read.parquet(online).toPandas()
        self.fs.materialize(V1)
        rebuilt = c.spark.read.parquet(online).toPandas()
        c.check("upsert_vs_materialize", lambda: checks.mismatch(upserted, rebuilt))
        self.con.close()

        files = versions = 0
        for v in (V1, V2):
            for _dir, _sub, names in os.walk(os.path.join(c.store_dir, "offline", v)):
                files += sum(n.endswith(".parquet") for n in names)
            versions += self.fs._offline(self.fs.registry.get_feature_view(v)).version()
        size = sum(
            os.path.getsize(os.path.join(d, n))
            for d, _sub, names in os.walk(c.store_dir)
            for n in names
        )
        return {
            "offline.commit_ratio": committed[V1] / self.offered,
            "offline.files": files,
            "offline.versions": versions,
            "store.bytes_per_row": size / (committed[V1] + committed[V2]),
        }


WORKLOADS = {w.name: w for w in (StoreLifecycle, TextCuration, AnnServing)}
