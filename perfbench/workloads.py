"""The three workloads. Each one sets up, measures its own operation for the
run's seconds and checks every answer against the exact oracle.

A workload leaves its operation latencies, set-up parts and counts in
``Bench``; ``run.py`` turns them into the metrics.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import checks
import inputs
from spans import SparkOpCounter, Tracer, median

from sketchlib.sketches import deserialize
from sketchlib.spark import SketchSpec
from sketchlib.spark.catalog import SketchCatalog
from sketchlib.spark.scan import build_sketches_from_parquet
from sketchlib.sql import approx_sql, explain_sql

SEQ_SPECS = [
    SketchSpec("hll_doc", "hll", "doc_id", {"p": 14}),
    SketchSpec("hll_tok", "hll", "tokens", {"p": 14}),
    SketchSpec("cm_tok", "cm", "tokens", {"eps": 1e-4, "delta": 0.01}),
    SketchSpec("kll_ntok", "kll", "n_tok", {"k": 200}),
    SketchSpec("td_ntok", "tdigest", "n_tok", {"compression": 200}),
    SketchSpec("bloom_tok", "bloom", "tokens", {"m_bits": 1 << 20, "h": 7}),
]
STATES_ROUTES = ("persisted_sketch_states", "ANSWERED FROM PERSISTED STATES")
MAX_FAILURE_LINES = 20
SERVE_STATEMENTS = 10  # distinct statements per seed, each route-checked
REFRESH_STATEMENTS = 8
REFRESH_READS = 3  # states reads after each refresh
SINGLE_CLIENT_SHARE = 0.5  # of serve-states' seconds; the rest runs nproc clients
SERVE_WARM_STATEMENTS = 60  # nproc-client statements that close serve-states' set-up
REFRESH_WARM_CYCLES = 2  # delta, refresh and reads cycles that close append-refresh's set-up
BUILD_WARM = 2  # builds in build-corpus's set-up


class Bench:
    """What one run shares: the session, the seed's inputs, the tracer and
    the tallies the metrics are made from."""

    def __init__(self, spark, seed: int, seconds: float, inputs_: inputs.SeedInputs,
                 work: str, tracer: Tracer, clients: int):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.inputs = inputs_
        self.work = work
        self.tracer = tracer
        self.spark_ops = SparkOpCounter(spark, tracer)
        self.clients = clients
        self.rng = random.Random(seed)
        self.latencies: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.misrouted: list[str] = []
        self.setup_parts: dict[str, float] = {}
        self.ops_per_s = 0.0
        self.report: dict = {}
        self.catalog_dirs: list[str] = []
        self._lock = threading.Lock()

    def record(self, series: str, seconds: float | None, errors: list[str]) -> None:
        """One attempted operation: its latency (None if it raised) and the
        oracle's complaints about its answer."""
        with self._lock:
            self.attempted += 1
            if seconds is not None:
                self.latencies.setdefault(series, []).append(seconds)
                if self.tracer.requested:
                    tag = "traced" if self.tracer.enabled else "untraced"
                    self.latencies.setdefault(f"{series}:{tag}", []).append(seconds)
            if errors:
                self.failed += 1
                self.failures.extend(errors[: max(0, MAX_FAILURE_LINES - len(self.failures))])

    def timed(self, series: str, fn, check) -> float | None:
        """Run ``fn`` timed, then ``check`` its result untimed; returns the
        latency, or None if ``fn`` raised."""
        try:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        except Exception as exc:  # an operation that raises is a failed operation
            self.record(series, None, [f"{series}: {type(exc).__name__}: {exc}"[:400]])
            return None
        self.record(series, dt, check(out))
        return dt

    def setup(self, name: str, fn):
        """A set-up step, timed into ``setup_parts``."""
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[name] = self.setup_parts.get(name, 0.0) + time.perf_counter() - t0
        return out

    def catalog(self, name: str) -> SketchCatalog:
        root = os.path.join(self.work, name)
        self.catalog_dirs.append(os.path.join(root, "states"))
        return SketchCatalog(self.spark, root)

    # --- the SQL front door, spanned by layer ---------------------------
    def run_sql(self, stmt: str, tables: dict, catalog=None, key=None) -> list:
        with self.tracer.span("sql.plan"):
            df = approx_sql(self.spark, stmt, tables, catalog=catalog, catalog_key=key)
        with self.tracer.span("sql.exec"):
            return [r.asDict() for r in df.collect()]

    def explain_route(self, stmt: str, tables: dict, catalog=None, key=None) -> str:
        rows = explain_sql(self.spark, stmt, tables, catalog=catalog, catalog_key=key).collect()
        return {r["property"]: r["value"] for r in rows}.get("route", "")

    def check_route(self, st, tables: dict, catalog, when: str = "before timing") -> None:
        """EXPLAIN ``st``: a route other than persisted states is a misroute,
        which fails the run."""
        r = self.explain_route(st.sql, tables, catalog, st.key)
        if not any(w in r for w in STATES_ROUTES):
            self.misrouted.append(f"{when}: {st.sql} (key={st.key}) -> {r!r}")

    def route_check(self, stmts, tables: dict, catalog) -> None:
        """Check every statement's route before timing (after warm-up,
        which it is not part of)."""
        t0 = time.perf_counter()
        for st in stmts:
            self.check_route(st, tables, catalog)
        self.report["route_check_s"] = time.perf_counter() - t0

    def order(self, items, salt: int = 0):
        """Endless seeded order over ``items``: one shuffled pass after
        another, so every statement runs about equally often in a run."""
        rng = random.Random(self.seed * 1000 + salt)
        while True:
            batch = list(items)
            rng.shuffle(batch)
            yield from batch

    def concurrently(self, fn, items) -> list:
        """``fn`` over ``items``, ``clients`` at a time; raises the first error."""
        with ThreadPoolExecutor(self.clients) as pool:
            return list(pool.map(fn, items))

    def loop(self, seconds: float, body, limit: int | None = None) -> float:
        """Call ``body(i)`` until ``seconds`` pass (at least once) or ``limit``
        calls are made; returns wall time."""
        t0 = time.perf_counter()
        i = 0
        while True:
            body(i)
            i += 1
            if time.perf_counter() - t0 >= seconds or i == limit:
                return time.perf_counter() - t0

    def traced_alternating(self, i: int) -> None:
        """In a traced run, every other 1-client operation runs untraced, so
        the run measures its own tracing overhead."""
        if self.tracer.requested:
            self.tracer.enabled = i % 2 == 0


def load_rows(rows) -> dict:
    return {(r["group"], r["sketch"]): deserialize(bytes(r["state"])) for r in rows}


# --- build-corpus -----------------------------------------------------------


def build_corpus(b: Bench) -> None:
    corpus = b.inputs.corpus()
    truth = inputs.Truth().add_dir(corpus)
    tokens = sum(int(st.tok_counts.sum()) for st in truth.by_source.values())

    def build():
        with b.tracer.op("build"), b.spark_ops.op("build"), b.tracer.span("build.full"):
            return build_sketches_from_parquet(b.spark, corpus, SEQ_SPECS, group_by="source").collect()

    def check(rows):
        return checks.built_states(load_rows(rows), truth)

    # the first build starts and warms every Python worker; the second still
    # runs slower while the JVM compiles its path
    b.setup("warm_up", lambda: [b.timed("warm", build, check) for _ in range(BUILD_WARM)])

    def body(i):
        b.traced_alternating(i)
        b.timed("build", build, check)

    wall = b.loop(b.seconds, body)
    b.ops_per_s = len(b.latencies.get("build", [])) / wall
    b.report["corpus_tokens"] = tokens
    if b.latencies.get("build"):
        b.report["build_tokens_per_s"] = tokens / median(b.latencies["build"])


# --- serve-states -----------------------------------------------------------

SEQ_KINDS = ("cd_doc", "cd_tok", "topk", "pct", "union")


@dataclass(frozen=True)
class SeqStmt:
    kind: str
    sql: str
    key: str | None = None
    k: int = 0


def seq_statement(rng: random.Random, kind: str, explicit: bool) -> SeqStmt:
    key = "seq" if explicit else None
    if kind == "union":
        rse = rng.choice((0.01, 0.02, 0.05))
        return SeqStmt(kind, "SELECT APPROX_COUNT_DISTINCT(doc_id, %s) FROM "
                             "(SELECT doc_id FROM seq UNION SELECT doc_id FROM seq_b)" % rse)
    if kind in ("cd_doc", "cd_tok"):
        col = "doc_id" if kind == "cd_doc" else "tokens"
        arg = rng.choice(("", ", 0.02", ", 0.05"))
        return SeqStmt(kind, f"SELECT APPROX_COUNT_DISTINCT({col}{arg}) FROM seq GROUP BY source", key)
    if kind == "topk":
        k = rng.choice((5, 10, 20))
        return SeqStmt(kind, f"SELECT APPROX_TOPK(tokens, {k}) FROM seq GROUP BY source", key, k)
    q = rng.choice((0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
    return SeqStmt(kind, f"SELECT APPROX_PERCENTILE(n_tok, {q}) FROM seq GROUP BY source", key)


def statement_set(rng: random.Random, n: int, kinds=SEQ_KINDS) -> list[SeqStmt]:
    """``n`` distinct seeded statements covering ``kinds`` in turn; the
    statements of each kind alternate between naming the catalog key and
    leaving the choice to auto-selection (set operations take no key)."""
    out: list[SeqStmt] = []
    while len(out) < n:
        kind = kinds[len(out) % len(kinds)]
        same = sum(s.kind == kind for s in out)
        st = seq_statement(rng, kind, explicit=same % 2 == 0)
        if st not in out:
            out.append(st)
    return out


def check_seq(st: SeqStmt, rows: list, truth: inputs.Truth, union_exact: int = 0) -> list[str]:
    if st.kind == "union":
        return checks.union_answer([tuple(r.values()) for r in rows], union_exact)
    return checks.seq_answer(st.kind, rows, truth, k=st.k)


def serve_states(b: Bench) -> None:
    table, other = b.inputs.serve_table(), b.inputs.union_table()
    truth = inputs.Truth().add_dir(table)
    union_exact = len(inputs.Truth().add_dir(table).add_dir(other).all_doc_ids())
    tables = {"seq": table, "seq_b": other}
    cat = b.catalog("serve")

    def register(name: str):
        cat.create(name, tables[name], SEQ_SPECS, group_by="source")

    b.setup("register", lambda: b.concurrently(register, list(tables)))

    stmts = statement_set(b.rng, SERVE_STATEMENTS)

    def run_one(st: SeqStmt, series: str) -> float | None:
        def op():
            with b.tracer.op("serve"), b.spark_ops.op("serve"):
                return b.run_sql(st.sql, tables, cat, st.key)

        return b.timed(series, op, lambda rows: check_seq(st, rows, truth, union_exact))

    # the first statement of each kind warms its path
    b.setup("first_statements", lambda: b.concurrently(lambda st: run_one(st, "warm"),
                                                       stmts[: len(SEQ_KINDS)]))
    b.route_check(stmts, tables, cat)
    # the JVM compiles the serving path over the first ~100 statements;
    # set-up runs a fixed number of them with nproc clients so timing starts warm
    warm = itertools.islice(b.order(stmts, salt=b.clients + 1), SERVE_WARM_STATEMENTS)
    b.setup("warm_up", lambda: b.concurrently(lambda st: run_one(st, "warm"), list(warm)))

    order = b.order(stmts)

    def body(i):
        b.traced_alternating(i)
        run_one(next(order), "query")

    b.loop(b.seconds * SINGLE_CLIENT_SHARE, body)
    b.tracer.enabled = False  # per-layer numbers come from 1-client operations

    # nproc closed-loop clients, each with its own seeded order
    deadline = time.perf_counter() + b.seconds * (1 - SINGLE_CLIENT_SHARE)
    loaded: dict[SeqStmt, list[float]] = {}

    def client(c: int):
        order = b.order(stmts, salt=1 + c)
        while time.perf_counter() < deadline:
            st = next(order)
            dt = run_one(st, "query_loaded")
            if dt is not None:
                loaded.setdefault(st, []).append(dt)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(b.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # Little's law for a closed loop without think time: throughput is
    # clients / mean latency. The mean is taken over the statement set, each
    # statement weighted equally, so which statements happened to be in
    # flight at the deadline does not move it.
    b.ops_per_s = b.clients / statistics.fmean(statistics.fmean(v) for v in loaded.values())


# --- append-refresh ---------------------------------------------------------


def new_farm(b: Bench, name: str) -> str:
    """A per-run table directory that deltas can be linked into: starts as
    links to the seed's served table."""
    farm = os.path.join(b.work, name)
    base = b.inputs.serve_table()
    for sv in os.listdir(base):
        if sv.startswith("source="):
            os.makedirs(os.path.join(farm, sv))
            for f in os.listdir(os.path.join(base, sv)):
                os.symlink(os.readlink(os.path.join(base, sv, f)), os.path.join(farm, sv, f))
    return farm


def append_delta(b: Bench, farm: str, i: int, truth: inputs.Truth | None = None) -> None:
    for rel, src in b.inputs.delta_files(i).items():
        os.symlink(src, os.path.join(farm, rel))
        if truth is not None:
            truth.add_file(rel.split(os.sep)[0].split("=", 1)[1], src)


def append_refresh(b: Bench) -> None:
    farm = new_farm(b, "refresh_farm")
    truth = inputs.Truth().add_dir(farm)
    tables = {"seq": farm}
    cat = b.catalog("refresh")
    b.setup("register", lambda: cat.create("seq", farm, SEQ_SPECS, group_by="source"))

    reads = statement_set(b.rng, REFRESH_STATEMENTS, SEQ_KINDS[:-1])

    def read(st: SeqStmt, series: str):
        def op():
            with b.tracer.op("read"), b.spark_ops.op("serve"):
                return b.run_sql(st.sql, tables, cat, st.key)

        b.timed(series, op, lambda rows: check_seq(st, rows, truth))

    order = b.order(reads)

    def cycle(i: int, series: str) -> float:
        """Append delta ``i``, refresh, then read; returns the seconds spent
        re-checking the route, which is not timed."""
        append_delta(b, farm, i, truth)

        def refresh():
            with b.tracer.op("refresh"), b.spark_ops.op("refresh"), b.tracer.span("catalog.refresh"):
                return cat.refresh("seq")

        b.timed(series, refresh, lambda r: [] if r["rows_added"] == inputs.CHUNK_ROWS else
                [f"refresh {i}: rows_added {r['rows_added']} != {inputs.CHUNK_ROWS}"])
        recheck_s = 0.0
        for j in range(REFRESH_READS):
            st = next(order)
            if j == 0:
                # a refresh that left the registry stale must show as a
                # misroute, not as a slower read
                t0 = time.perf_counter()
                b.check_route(st, tables, cat, when=f"after refresh {i}")
                recheck_s = time.perf_counter() - t0
            read(st, f"{series}_read")
        return recheck_s

    # the first refreshes still run slower while the JVM compiles their path
    b.setup("warm_up", lambda: [cycle(i, "warm") for i in range(REFRESH_WARM_CYCLES)])
    b.route_check(reads, tables, cat)
    recheck_s = 0.0

    def body(i):
        nonlocal recheck_s
        b.traced_alternating(i)
        recheck_s += cycle(REFRESH_WARM_CYCLES + i, "refresh")

    wall = b.loop(b.seconds, body, limit=len(b.inputs.delta_chunks) - REFRESH_WARM_CYCLES)
    n = len(b.latencies.get("refresh", []))
    b.ops_per_s = (n + len(b.latencies.get("refresh_read", []))) / (wall - recheck_s)
    b.report["deltas_appended"] = n
    b.report["route_recheck_s"] = recheck_s


WORKLOADS = {  # name -> (workload, the latency series its op_p50_ms reads)
    "build-corpus": (build_corpus, "build"),
    "serve-states": (serve_states, "query"),
    "append-refresh": (append_refresh, "refresh"),
}
