"""The benchmark's three workloads.

Each workload class has the same life cycle, driven by ``child.py``:
``setup`` (once, cold, timed as set-up), ``warm`` (untimed),
``measure`` (the closed loop, for ``--seconds``), then
``check_and_summarize`` (untimed output checks and the metrics).

* ``enrich_batch_sf1`` — the nightly enrichment/dedup batch: one
  client runs the data-bound query families over the sf1 mirror in a
  seeded order, releasing session caches (untimed) before each query.
* ``feed_serving_sf0.1`` — the read API: ``clients`` threads, each on
  its own FAIR pool, in a closed loop over a seeded mix of URN
  lookups, update feeds, keyset pages, one-hop equivalents and
  membership probes, after untimed warm-up serving.
* ``coverage_writes_sf0.1`` — the write path: one writer runs seeded
  coverage cycles (rollup refresh, queue register/eligible/
  apply_outcomes commit, periodic compact + vacuum) while one reader
  reads the latest rollup snapshot.

Every output is checked against DuckDB: registered queries against
their oracle (``tools/check_oracle``), parameterized requests against
a twin SQL, and the final write state against a DuckDB replay of the
base plus every generated delta.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracle import (  # noqa: E402
    check_one,
    oracle_connection,
    oracle_fetch,
    value_hash,
)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    v = sorted(values)
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def _tail(values: list[float]) -> dict:
    """The highest of p99/p95/p90 with at least ten samples beyond it,
    or none when the run is too short for any of them."""
    for q in (99, 95, 90):
        if len(values) * (100 - q) / 100.0 >= 10:
            return {"q": q, "ms": percentile(values, q), "samples": len(values)}
    return {"q": None, "ms": None, "samples": len(values)}


def _query_layers(ops: list[dict]) -> dict:
    """Per-operation means of the timed phases and Spark counts."""
    q = [o for o in ops if "build_ms" in o]
    return {
        "plans.build_ms": _mean(o["build_ms"] for o in q),
        "plans.build_jobs": _mean(o["build_jobs"] for o in q),
        "spark.plan_ms": _mean(o["plan_ms"] for o in q),
        "spark.exec_ms": _mean(o["exec_ms"] for o in q),
        "spark.jobs": _mean(o["jobs"] for o in ops),
        "spark.stages": _mean(o["stages"] for o in ops),
        "spark.tasks": _mean(o["tasks"] for o in ops),
        "spark.failed_tasks": float(sum(o["failed_tasks"] for o in ops)),
    }


class Workload:
    sf = "0.1"

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.sf_dir = args.sf_dir
        self.work = args.work

    @classmethod
    def prepare(cls, sf_dir: str) -> None:
        """Untimed input preparation, run once per run before the
        measured process starts."""

    def setup(self, spark, sf_dir):
        return None

    def teardown(self, spark, fixtures):
        pass

    def warm(self, spark, fixtures, rec):
        pass


# ---------------------------------------------------------------------------
# enrich_batch_sf1
# ---------------------------------------------------------------------------

# Data-bound query families of the nightly batch, with the tables each
# one reads (for the input-row count behind enrich_rows_per_s). The
# mix is sized so one pass fits the run budget on a 4-core host
# (~16 s). Left out for that reason: f_levenshtein_ratio,
# f_title_token_jaccard, dd_ngram_jaccard_pruned, dd_minhash_clusters,
# g_transitive_closure, pipe_provider_end_to_end, txt_repetition_filter
# and ev_sessionized_gaps (the last two: 6-9 s each, mostly result
# transfer for the latter).
ENRICH_MIX = {
    "dd_minhash_lsh": ("documents",),
    "sim_cosine_topk": ("embeddings",),
    "sim_ivf_topk": ("embeddings",),
    "s_xml_classify": ("part",),
    "g_connected_components": ("customer",),
}
# Untimed warm-up: the whole mix once at this scale boots the Python
# workers (several seconds, otherwise paid by whichever query came
# first) and compiles each plan's generated code, without warming any
# cache the timed pass could reuse (caches are released after it).
WARM_SF = "0.001"

def _oracle_cache_path(sf_dir: str) -> str:
    from inputs import GENERATED

    return os.path.join(GENERATED, f"oracle-{os.path.basename(sf_dir)}.json")


def cached_oracle_hashes(sf_dir: str, names) -> dict:
    """Oracle value hash of each named query on ``sf_dir``, computed
    with DuckDB once and kept in the generated-data directory. Entries
    are keyed by the oracle SQL and the tables' content digest, so a
    changed oracle or changed data is recomputed."""
    from inputs import fingerprint
    from metadata_wrangler_spark import plans

    plans.load_all_plans()
    path = _oracle_cache_path(sf_dir)
    data = fingerprint(sf_dir)
    try:
        with open(path) as f:
            cache = json.load(f)
    except (FileNotFoundError, ValueError):
        cache = {}
    con = None
    for name in names:
        sql = plans.ORACLES[name]
        if cache.get(name, {}).get("sql") == sql and \
                cache[name].get("data") == data:
            continue
        if con is None:
            con = oracle_connection(sf_dir)
        cols, rows = oracle_fetch(con.sql(sql))
        cache[name] = {"sql": sql, "data": data,
                       "hash": value_hash(cols, rows),
                       "rows": len(rows), "cols": sorted(cols)}
    if con is not None:
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {n: cache[n] for n in names}


class EnrichBatch(Workload):
    sf = "1"

    @classmethod
    def prepare(cls, sf_dir: str) -> None:
        from inputs import ensure_mirror

        cached_oracle_hashes(sf_dir, sorted(ENRICH_MIX))
        ensure_mirror(WARM_SF, REPO)

    def setup(self, spark, sf_dir):
        with open(_oracle_cache_path(sf_dir)) as f:
            return {"oracle": json.load(f)}

    def warm(self, spark, fixtures, rec):
        from metadata_wrangler_spark import plans

        from inputs import DATA

        warm_dir = os.path.join(DATA, f"sf{WARM_SF}")
        for name in sorted(ENRICH_MIX):
            plans.QUERIES[name](spark, warm_dir).collect()
        plans.release_session_caches(spark)

    def measure(self, spark, fixtures, rec, seconds):
        from metadata_wrangler_spark import plans

        rng = random.Random(self.seed)
        self.results = []
        self.release_ms = []
        self.passes = 0
        deadline = time.perf_counter() + seconds
        # whole passes only, so every run times the same query multiset
        while self.passes == 0 or time.perf_counter() < deadline:
            order = sorted(ENRICH_MIX)
            rng.shuffle(order)
            for name in order:
                t0 = time.perf_counter()
                plans.release_session_caches(spark)
                self.release_ms.append((time.perf_counter() - t0) * 1e3)
                fn = plans.QUERIES[name]
                op, cols, rows = rec.query(
                    name, "query", lambda fn=fn: fn(spark, self.sf_dir))
                self.results.append((op, name, value_hash(cols, rows),
                                     sorted(cols)))
            self.passes += 1

    def check_and_summarize(self, spark, fixtures, rec, wall):
        from inputs import describe

        oracle = fixtures["oracle"]
        for op, name, h, cols in self.results:
            want = oracle[name]
            if (h, cols, op["rows"]) != (want["hash"], want["cols"], want["rows"]):
                op["mismatch"] = True
                rec.fail(name, f"hash {h} rows {op['rows']} != oracle "
                               f"{want['hash']} rows {want['rows']}")
        ops = rec.ops
        busy_s = sum(o["wall_ms"] for o in ops) / 1e3
        tables = describe(self.sf_dir)
        rows_per_pass = sum(tables[t]["rows"] for ts in ENRICH_MIX.values()
                            for t in ts)
        lat = [o["wall_ms"] for o in ops]
        return {
            "attempted": len(ops),
            "failed": sum(1 for o in ops if o.get("mismatch")),
            # per query: a run holds one or two passes of the mix, too
            # few samples for the ten-beyond rule (see p50_samples)
            "p50_ms": statistics.median(lat),
            "ops_per_s": len(ops) / busy_s,
            "detail": {
                "enrich_rows_per_s": rows_per_pass * self.passes / busy_s,
                "input_rows_per_pass": rows_per_pass,
                "passes": self.passes,
                "batch_wall_s": busy_s,
                "p50_samples": len(lat),
                "query_ms": {o["name"]: round(o["wall_ms"], 1) for o in ops},
            },
            "layers": {
                **_query_layers(ops),
                "plans.release_session_caches_ms": _mean(self.release_ms),
            },
        }


# ---------------------------------------------------------------------------
# feed_serving_sf0.1
# ---------------------------------------------------------------------------

# distinct seeded parameter sets per parameterized request kind
_PARAM_SETS = 3
# Requests of each kind per deck of 13. The request stream is seeded
# shuffles of whole decks, so every run serves the same proportions
# (up to one partial deck) and each parameter set equally often.
FEED_WEIGHTS = {
    "lookup_urn": 2, "updates_feed": 2, "opds_updates_page": 1,
    "keyset_page": _PARAM_SETS, "feed_since": _PARAM_SETS,
    "edge_one_hop": 1, "semi_join": 1,
}
_REGISTERED = {
    "lookup_urn": "pipe_lookup_urn",
    "updates_feed": "pipe_updates_feed",
    "opds_updates_page": "s_opds_updates_page",
    "edge_one_hop": "g_edge_one_hop",
    "semi_join": "j_semi_join",
}
# Request latency keeps falling for tens of seconds of serving while
# the JIT compiles the driver's planning and scheduling paths. Those
# paths do not depend on the data size, so the untimed warm-up first
# serves the same request mix at sf0.001 (several times as many
# requests per second), then serves at the workload's scale in the
# same closed loop as the timed window. The clients do not pause
# between the last two, so the window starts without a cold burst of
# simultaneous requests.
WARM_SMALL_S = 10
WARM_SERVE_S = 5


class FeedServing(Workload):
    """Request specs are (kind, label, build(spark) -> DataFrame,
    twin SQL); the seed picks the request sequence and the cursors,
    page sizes and watermarks of the parameterized kinds."""

    def _specs(self, sf_dir):
        from metadata_wrangler_spark import plans
        from metadata_wrangler_spark.catalog import events_since, load
        from metadata_wrangler_spark.operators.pagination import keyset_page
        from pyspark.sql import functions as F

        plans.load_all_plans()
        rng = random.Random(self.seed)
        specs = {}
        for kind, name in _REGISTERED.items():
            fn = plans.QUERIES[name]
            specs[kind] = [(name, lambda s, fn=fn: fn(s, sf_dir),
                            plans.ORACLES[name])]
        specs["keyset_page"] = []
        for _ in range(_PARAM_SETS):
            cursor, size = rng.randrange(0, 140_000), rng.choice((20, 35, 50))
            cols = "o_orderkey, o_custkey, o_totalprice, o_orderpriority"

            def build(s, cursor=cursor, size=size):
                o = load(s, sf_dir, "orders").select(
                    "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
                return keyset_page(o, "o_orderkey", cursor, size)

            specs["keyset_page"].append((
                f"keyset_page(o_orderkey>{cursor},{size})", build,
                f"SELECT {cols} FROM orders WHERE o_orderkey > {cursor} "
                f"ORDER BY o_orderkey LIMIT {size}"))
        specs["feed_since"] = []
        for _ in range(_PARAM_SETS):
            wm = f"2024-01-{rng.randrange(2, 29):02d} {rng.randrange(24):02d}:00:00"
            cursor = rng.randrange(0, 1200)

            def build(s, wm=wm, cursor=cursor):
                updated = events_since(s, sf_dir, wm).groupBy("user_id").agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.floor(F.unix_timestamp(F.max("ts"))).cast("bigint")
                    .alias("last_seen_epoch"))
                return keyset_page(updated, "user_id", cursor, 35)

            specs["feed_since"].append((
                f"feed_since({wm},{cursor})", build,
                "SELECT user_id, COUNT(*) AS n_events, "
                "CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_seen_epoch "
                f"FROM events WHERE ts > TIMESTAMP '{wm}' GROUP BY user_id "
                f"HAVING user_id > {cursor} ORDER BY user_id LIMIT 35"))
        return specs

    @classmethod
    def prepare(cls, sf_dir: str) -> None:
        from inputs import ensure_mirror

        ensure_mirror(WARM_SF, REPO)

    def setup(self, spark, sf_dir):
        return {"specs": self._specs(sf_dir)}

    def warm(self, spark, fixtures, rec):
        from inputs import DATA

        small = self._specs(os.path.join(DATA, f"sf{WARM_SF}"))
        _, errors = self._serve(spark, small, rec, WARM_SMALL_S, self.seed + 1)
        for e in errors:
            rec.fail("warm client", e)
        self.warm_errors = len(errors)

    def _check_variants(self, spark, specs, rec) -> int:
        """Every distinct request once, checked against DuckDB with
        ``check_one`` on the client threads; keeps each oracle's hash to
        check the timed responses. Returns the number of failures."""
        from concurrent.futures import ThreadPoolExecutor

        con = oracle_connection(self.sf_dir)
        variants = [v for vs in specs.values() for v in vs]
        self.expected = {}
        for label, _, sql in variants:
            cols, rows = oracle_fetch(con.sql(sql))
            self.expected[label] = (value_hash(cols, rows), len(rows))

        def check(variant):
            label, build, sql = variant
            cursor = con.cursor()
            try:
                return label, check_one(spark, cursor,
                                        lambda s, _d: build(s), sql, self.sf_dir)
            finally:
                cursor.close()

        failures = 0
        with ThreadPoolExecutor(self.args.clients) as pool:
            for label, problems in pool.map(check, variants):
                if problems:
                    failures += 1
                    rec.fail(label, "; ".join(problems))
        con.close()
        self.checks = len(variants)
        return failures

    def _serve(self, spark, specs, rec, seconds, seed):
        """The closed loop: ``clients`` threads, each on its own FAIR
        pool, take the next request of one shared seeded stream until
        ``seconds`` have passed. Returns (responses, client errors)."""
        responses, errors = [], []
        lock = threading.Lock()
        deadline = time.perf_counter() + seconds

        def decks():
            rng = random.Random(seed)
            while True:
                deck = [(kind, variant) for kind, n in FEED_WEIGHTS.items()
                        for variant in (specs[kind] * n)[:n]]
                rng.shuffle(deck)
                yield from deck

        stream = decks()

        def client(i):
            try:
                sc = spark.sparkContext
                sc.setLocalProperty("spark.scheduler.pool", f"client{i}")
                while time.perf_counter() < deadline:
                    with lock:
                        kind, (label, build, _) = next(stream)
                    op, cols, rows = rec.query(label, kind,
                                               lambda b=build: b(spark), i)
                    with lock:
                        responses.append((op, label, cols, rows))
            except Exception as e:  # counted as a failed request
                errors.append(repr(e))

        threads = [threading.Thread(target=client, args=(i,))
                   for i in range(self.args.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return responses, errors

    def measure(self, spark, fixtures, rec, seconds):
        """Serve for ``WARM_SERVE_S`` untimed, then ``seconds`` timed;
        the window holds the requests that start inside it."""
        cut = time.time() + WARM_SERVE_S
        responses, errors = self._serve(
            spark, fixtures["specs"], rec, WARM_SERVE_S + seconds, self.seed)
        rec.ops[:] = [o for o in rec.ops if o["start"] >= cut]
        self.responses = [r for r in responses if r[0]["start"] >= cut]
        self.window_s = seconds
        for e in errors:
            rec.fail("client", e)
        self.client_errors = len(errors)

    def check_and_summarize(self, spark, fixtures, rec, wall):
        bad = self._check_variants(spark, fixtures["specs"], rec)
        for op, label, cols, rows in self.responses:
            want_hash, want_rows = self.expected[label]
            if (value_hash(cols, rows), len(rows)) != (want_hash, want_rows):
                bad += 1
                rec.fail(label, "response differs from its oracle")
        ops = rec.ops
        lat = [o["wall_ms"] for o in ops]
        keyset = [o for o in ops if o["kind"] == "keyset_page"]
        return {
            "attempted": len(ops) + self.checks + self.client_errors,
            "failed": bad + self.client_errors + self.warm_errors,
            "p50_ms": statistics.median(lat),
            "ops_per_s": len(ops) / self.window_s,
            "detail": {
                "serve_p50_ms": statistics.median(lat),
                "serve_tail": _tail(lat),
                "serve_qps": len(ops) / self.window_s,
                "p50_samples": len(lat),
                "clients": self.args.clients,
                "per_kind_p50_ms": {
                    k: statistics.median([o["wall_ms"] for o in ops
                                          if o["kind"] == k])
                    for k in FEED_WEIGHTS if any(o["kind"] == k for o in ops)},
            },
            "layers": {
                **_query_layers(ops),
                "operators.pagination.keyset_page_ms":
                    _mean(o["wall_ms"] for o in keyset),
            },
        }


# ---------------------------------------------------------------------------
# coverage_writes_sf0.1
# ---------------------------------------------------------------------------

QUEUE_SCHEMA = ("identifier_id bigint, data_source string, operation string, "
                "status string, ts timestamp, exception string")
QUEUE_SOURCE, QUEUE_OP = "OCLC", "lookup"
BASE_IDS = 20_000             # identifiers registered in the base queue
NEW_IDS_PER_CYCLE = 100       # fresh identifiers registered per cycle
OUTCOMES_PER_CYCLE = 400      # identifiers a cycle tries to process
EVENTS_PER_CYCLE = 2_000      # events in each generated delta
MAINTENANCE_EVERY = 3         # compact + vacuum every k-th timed cycle
WARM_CYCLES = 2               # untimed cycles before the window
BACKOFF_S = 120               # transient failures retry two cycles later
_STATUSES = ("success", "transient failure", "persistent failure")


class _CommitMeter:
    """Wraps a VersionedParquetTable's ``try_commit`` on the instance
    to count lost races (retries), commit time and the bytes and files
    each committed version wrote."""

    def __init__(self, table):
        self.table = table
        self.inner = table.try_commit
        self.lost = 0
        self.commit_ms: list[float] = []
        self.versions: list[tuple[int, int, int]] = []  # (v, bytes, files)
        self.lock = threading.Lock()
        table.try_commit = self

    def __call__(self, base_version, post_state, meta=None):
        t0 = time.perf_counter()
        ok = self.inner(base_version, post_state, meta=meta)
        ms = (time.perf_counter() - t0) * 1e3
        with self.lock:
            self.commit_ms.append(ms)
            if ok:
                v = base_version + 1
                nbytes, files = _dir_bytes(self.table._manifest(v)["data_dir"])
                self.versions.append((v, nbytes, files))
            else:
                self.lost += 1
        return ok


class _SnapshotGate:
    """Readers hold it shared while they read a snapshot; vacuum takes
    it exclusively, so it never deletes files a reader is scanning."""

    def __init__(self):
        self.cond = threading.Condition()
        self.readers = 0
        self.writer = False

    @contextmanager
    def read(self):
        with self.cond:
            self.cond.wait_for(lambda: not self.writer)
            self.readers += 1
        try:
            yield
        finally:
            with self.cond:
                self.readers -= 1
                self.cond.notify_all()

    @contextmanager
    def exclusive(self):
        with self.cond:
            self.writer = True
            self.cond.wait_for(lambda: self.readers == 0)
        try:
            yield
        finally:
            with self.cond:
                self.writer = False
                self.cond.notify_all()


class CoverageWrites(Workload):

    def setup(self, spark, sf_dir):
        from metadata_wrangler_spark.catalog import load
        from metadata_wrangler_spark.operators.matview import (
            MaterializedDailyRollup,
        )
        from metadata_wrangler_spark.operators.merge import (
            VersionedParquetTable,
        )
        from pyspark.sql import functions as F

        root = os.path.join(self.work, "coverage")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "deltas"))
        rollup = MaterializedDailyRollup(spark, os.path.join(root, "rollup"))
        rollup.init(load(spark, sf_dir, "events"))
        queue = VersionedParquetTable(spark, os.path.join(root, "queue"),
                                      schema=QUEUE_SCHEMA)
        queue.init(
            spark.range(BASE_IDS).select(
                F.col("id").alias("identifier_id"),
                F.lit(QUEUE_SOURCE).alias("data_source"),
                F.lit(QUEUE_OP).alias("operation"),
                F.lit("registered").alias("status"),
                F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
                F.lit(None).cast("string").alias("exception"),
            ))
        return {"root": root, "rollup": rollup, "queue": queue}

    def teardown(self, spark, fixtures):
        if fixtures:
            shutil.rmtree(fixtures["root"], ignore_errors=True)

    # -- generated deltas ---------------------------------------------------

    def _events_delta(self, rng: random.Random, cycle: int, path: str) -> int:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        r = np.random.default_rng(rng.randrange(2**32))
        hour_us = 3_600_000_000
        start = np.datetime64("2024-01-31", "us") + cycle * hour_us
        n = EVENTS_PER_CYCLE
        pq.write_table(pa.table({
            "event_id": np.arange(n, dtype=np.int64) + 10_000_000 + cycle * n,
            "ts": pa.array(start + np.sort(r.integers(1, hour_us, n)),
                           pa.timestamp("us")),
            "user_id": r.integers(0, 1500, n),
            "event_type": np.array(["signup", "purchase", "view", "click",
                                    "error"])[r.integers(0, 5, n)],
            "value": np.round(r.exponential(50.0, n), 2),
            "props": ['{"k": 1}'] * n,
        }), path)
        return os.path.getsize(path)

    def _queue_delta(self, rng: random.Random, cycle: int, items_path: str,
                     outcomes_path: str) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        first_new = BASE_IDS + cycle * NEW_IDS_PER_CYCLE
        known = BASE_IDS + (cycle + 1) * NEW_IDS_PER_CYCLE
        items = list(range(first_new, first_new + NEW_IDS_PER_CYCLE))
        items += rng.sample(range(first_new), 20)  # already registered
        picked = rng.sample(range(known), OUTCOMES_PER_CYCLE)
        pq.write_table(pa.table({"identifier_id": pa.array(items, pa.int64())}),
                       items_path)
        pq.write_table(pa.table({
            "identifier_id": pa.array(picked, pa.int64()),
            "new_status": [rng.choice(_STATUSES) for _ in picked],
        }), outcomes_path)
        return os.path.getsize(items_path) + os.path.getsize(outcomes_path)

    # -- the loop -----------------------------------------------------------

    def warm(self, spark, fixtures, rec):
        """Untimed cycles, so the timed ones run warm code paths (the
        first cycles of a session are ~30% slower)."""
        self.rng = random.Random(self.seed)
        self.cycles = []          # (cycle, cycle_ts), replayed by the check
        # rollup version -> last cycle merged into it (None: base only)
        self.expected_events = {0: None}
        self.delta_bytes = 0
        self.refresh_ms, self.apply_ms = [], []
        for cycle in range(WARM_CYCLES):
            self._cycle(spark, fixtures, rec, cycle)

    def _cycle(self, spark, fixtures, rec, cycle: int) -> None:
        """Generate one seeded delta and commit it: events into the
        rollup, then register/eligible/apply_outcomes into the queue."""
        from metadata_wrangler_spark.operators import queue as q
        from pyspark.sql import functions as F

        rollup, queue = fixtures["rollup"], fixtures["queue"]
        deltas = os.path.join(fixtures["root"], "deltas")
        ev = os.path.join(deltas, f"events-{cycle}.parquet")
        items = os.path.join(deltas, f"items-{cycle}.parquet")
        outs = os.path.join(deltas, f"outcomes-{cycle}.parquet")
        self.delta_bytes += self._events_delta(self.rng, cycle, ev)
        self.delta_bytes += self._queue_delta(self.rng, cycle, items, outs)
        cycle_ts = f"2024-02-01 {cycle // 60:02d}:{cycle % 60:02d}:00"

        def post_state(current):
            reg = q.register(current, spark.read.parquet(items),
                             QUEUE_SOURCE, QUEUE_OP, ts=cycle_ts)
            todo = q.eligible(reg, cycle_ts, BACKOFF_S).select(*q.KEY).join(
                spark.read.parquet(outs), "identifier_id")
            outcomes = todo.select(
                *q.KEY, "new_status",
                F.lit(cycle_ts).cast("timestamp").alias("new_ts"),
                F.when(F.col("new_status") != "success",
                       F.lit("timeout")).alias("new_exception"))
            return q.apply_outcomes(reg, outcomes)

        def one_cycle():
            t0 = time.perf_counter()
            rollup.refresh(spark.read.parquet(ev))
            t1 = time.perf_counter()
            queue.merge(post_state)
            self.refresh_ms.append((t1 - t0) * 1e3)
            self.apply_ms.append((time.perf_counter() - t1) * 1e3)

        rec.action(f"cycle{cycle}", "commit", one_cycle)
        self.expected_events[rollup.table.current_version()] = cycle
        self.cycles.append((cycle, cycle_ts))

    def measure(self, spark, fixtures, rec, seconds):
        from pyspark.sql import functions as F

        rollup, queue = fixtures["rollup"], fixtures["queue"]
        self.meters = {"rollup": _CommitMeter(rollup.table),
                       "queue": _CommitMeter(queue)}
        gate = _SnapshotGate()
        # the window's own writes only (the warm cycles are not counted)
        self.delta_bytes = 0
        self.refresh_ms, self.apply_ms = [], []
        self.compact_ms, self.vacuum_ms = [], []
        self.compact_bytes = 0
        self.reads = []           # (version, n_rows, n_events)
        stop = threading.Event()
        reader_errors = []

        def read_latest():
            with gate.read():
                v = rollup.table.current_version()
                row = rollup.table.read(v).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("n_events").alias("e")).collect()[0]
            return v, int(row["n"]), int(row["e"])

        def reader():
            try:
                spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", "reader")
                while not stop.is_set():
                    _, res = rec.action("read_latest", "read", read_latest, 1)
                    self.reads.append(res)
            except Exception as e:  # counted as a failed read
                reader_errors.append(repr(e))

        reader_thread = threading.Thread(target=reader)
        reader_thread.start()
        deadline = time.perf_counter() + seconds
        t_start = time.perf_counter()
        cycle = first = WARM_CYCLES
        try:
            while cycle == first or time.perf_counter() < deadline:
                self._cycle(spark, fixtures, rec, cycle)
                if (cycle - first + 1) % MAINTENANCE_EVERY == 0:
                    self._maintain(rec, gate, (rollup.table, queue))
                cycle += 1
        finally:
            self.writer_wall = time.perf_counter() - t_start
            stop.set()
            reader_thread.join()
        for e in reader_errors:
            rec.fail("reader", e)
        self.reader_errors = len(reader_errors)

    def _maintain(self, rec, gate, tables):
        """Background work: compact each table, then vacuum it once no
        reader holds a snapshot open."""
        for t in tables:
            meter = next(m for m in self.meters.values() if m.table is t)
            before = len(meter.versions)
            op, v = rec.action("compact", "maintenance",
                               lambda t=t: t.compact(target_files=2))
            self.compact_ms.append(op["wall_ms"])
            self.compact_bytes += sum(b for _, b, _ in meter.versions[before:])
            if t is tables[0]:  # the rollup: compaction keeps its content
                prev = max(k for k in self.expected_events if k < v)
                self.expected_events[v] = self.expected_events[prev]

            def vacuum(t=t):
                with gate.exclusive():
                    t.vacuum(retention_seconds=0)

            op, _ = rec.action("vacuum", "maintenance", vacuum)
            self.vacuum_ms.append(op["wall_ms"])

    # -- checks -------------------------------------------------------------

    def _replay(self, fixtures):
        """Final rollup and queue state recomputed in DuckDB from the
        base tables plus every generated delta."""
        import duckdb

        deltas = os.path.join(fixtures["root"], "deltas")
        con = duckdb.connect()
        ev_files = [os.path.join(self.sf_dir, "events.parquet")] + [
            os.path.join(deltas, f"events-{c}.parquet") for c, _ in self.cycles]
        rollup = con.sql(
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) "
            "AS q_value "
            f"FROM read_parquet({ev_files!r}) GROUP BY ALL")
        rollup_res = oracle_fetch(rollup)
        con.execute(
            "CREATE TABLE q AS SELECT range AS identifier_id, "
            f"'{QUEUE_SOURCE}' AS data_source, '{QUEUE_OP}' AS operation, "
            "'registered' AS status, TIMESTAMP '2024-01-01 00:00:00' AS ts, "
            f"CAST(NULL AS VARCHAR) AS exception FROM range({BASE_IDS})")
        for c, cts in self.cycles:
            items = os.path.join(deltas, f"items-{c}.parquet")
            outs = os.path.join(deltas, f"outcomes-{c}.parquet")
            con.execute(
                f"INSERT INTO q SELECT DISTINCT identifier_id, '{QUEUE_SOURCE}', "
                f"'{QUEUE_OP}', 'registered', TIMESTAMP '{cts}', NULL "
                f"FROM read_parquet('{items}') WHERE identifier_id NOT IN "
                "(SELECT identifier_id FROM q)")
            con.execute(
                "UPDATE q SET status = o.new_status, ts = TIMESTAMP "
                f"'{cts}', exception = CASE WHEN o.new_status <> 'success' "
                "THEN 'timeout' END "
                f"FROM read_parquet('{outs}') o "
                "WHERE q.identifier_id = o.identifier_id AND "
                "(q.status = 'registered' OR (q.status = 'transient failure' "
                f"AND epoch(TIMESTAMP '{cts}') - epoch(q.ts) > {BACKOFF_S}))")
        queue_res = oracle_fetch(con.sql("SELECT * FROM q"))
        con.close()
        return rollup_res, queue_res

    def check_and_summarize(self, spark, fixtures, rec, wall):
        rollup, queue = fixtures["rollup"], fixtures["queue"]
        (r_cols, r_rows), (q_cols, q_rows) = self._replay(fixtures)
        got_r = rollup.table.read().select(
            "day", "event_type", "n_events", "q_value")
        got_q = queue.read()
        bad = 0
        for label, got, cols, rows in (("rollup", got_r, r_cols, r_rows),
                                       ("queue", got_q, q_cols, q_rows)):
            srows = [tuple(r) for r in got.collect()]
            if value_hash([c.lower() for c in got.columns], srows) != \
                    value_hash(cols, rows):
                bad += 1
                rec.fail(label, "final state differs from the DuckDB replay")
        # every snapshot read must hold exactly the events merged by
        # the version it read
        base_events = _parquet_rows(os.path.join(self.sf_dir, "events.parquet"))
        bad_reads = 0
        for v, _, e in self.reads:
            last = self.expected_events.get(v)
            want = base_events + (0 if last is None else (last + 1) * EVENTS_PER_CYCLE)
            if e != want:
                bad_reads += 1
        if bad_reads:
            rec.fail("read_latest", f"{bad_reads} reads saw a torn snapshot")

        ops = rec.ops
        commits = [o for o in ops if o["kind"] == "commit"]
        reads = [o for o in ops if o["kind"] == "read"]
        lat = [o["wall_ms"] for o in commits]
        written = sum(b for m in self.meters.values() for _, b, _ in m.versions)
        files = [f for m in self.meters.values() for _, _, f in m.versions]
        commit_ms = [x for m in self.meters.values() for x in m.commit_ms]
        maint_s = (sum(self.compact_ms) + sum(self.vacuum_ms)) / 1e3
        return {
            # every timed operation plus the two final-state checks
            "attempted": len(ops) + 2 + self.reader_errors,
            "failed": bad + bad_reads + self.reader_errors,
            # per commit cycle: ~5 in a 10-s run, fewer than the
            # ten-beyond rule asks for (see p50_samples)
            "p50_ms": statistics.median(lat),
            # maintenance is background work: it is timed on its own
            # (compact_ms, vacuum_ms) and left out of commit throughput
            "ops_per_s": len(commits) / (self.writer_wall - maint_s),
            "detail": {
                "commit_p50_ms": statistics.median(lat),
                "commit_tail": _tail(lat),
                "cycles_per_s": len(commits) / (self.writer_wall - maint_s),
                "cycles_per_s_with_maintenance": len(commits) / self.writer_wall,
                "commits_per_s": sum(len(m.versions) for m in self.meters.values())
                / self.writer_wall,
                "read_p50_ms": statistics.median(
                    [o["wall_ms"] for o in reads]) if reads else None,
                "write_amp": written / self.delta_bytes,
                "cycles": len(commits),
                "p50_samples": len(lat),
                "reads": len(reads),
            },
            "layers": {
                **_query_layers(ops),
                "operators.merge.retries": float(
                    sum(m.lost for m in self.meters.values())),
                "operators.matview.refresh_ms": _mean(self.refresh_ms),
                "operators.queue.apply_outcomes_ms": _mean(self.apply_ms),
                "operators.merge.commit_ms": _mean(commit_ms),
                "operators.merge.bytes_written": float(written),
                "operators.merge.files_per_version": _mean(files),
                "operators.merge.compact_ms": _mean(self.compact_ms),
                "operators.merge.compact_bytes": float(self.compact_bytes),
                "operators.merge.vacuum_ms": _mean(self.vacuum_ms),
                "coverage.read_p50_ms": statistics.median(
                    [o["wall_ms"] for o in reads]) if reads else 0.0,
                "coverage.write_amp": written / self.delta_bytes,
            },
        }


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


WORKLOADS = {
    "enrich_batch_sf1": EnrichBatch,
    "feed_serving_sf0.1": FeedServing,
    "coverage_writes_sf0.1": CoverageWrites,
}
