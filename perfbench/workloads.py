"""The benchmark's two workloads, driven through the engine's public entry
points only: ``build_index``, ``append_segment`` and ``Index.search_local``,
``.search`` and ``.search_many``.

Each workload is a closed loop with one client.  ``setup`` prepares its
inputs from the seed (corpora become Parquet tables, so builds read a table
scan); ``loop`` runs whole passes of timed operations for about the
given number of seconds and checks every answer outside the timed region;
``e2e`` and ``layers`` turn the samples into metrics.  Exceptions and wrong
answers both count as failed operations.

Every operation is timed twice: wall seconds, and CPU seconds of the
processes that do the work (the driver for ``search_local``; the driver,
its JVM and the Python workers for Spark jobs).  The end-to-end metrics use
CPU seconds, which leave out the time other guests take from a shared host;
the wall figures are printed beside them.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import kafka_elasticsearch_standalone_consumer_spark as engine_pkg
from kafka_elasticsearch_standalone_consumer_spark.corpus import (
    generate_conversations,
    reference_queries,
)
from kafka_elasticsearch_standalone_consumer_spark.index import codec
from kafka_elasticsearch_standalone_consumer_spark.pipeline import incremental
from kafka_elasticsearch_standalone_consumer_spark.pipeline.builder import build_index
from kafka_elasticsearch_standalone_consumer_spark.query import bm25, engine, kernels
from kafka_elasticsearch_standalone_consumer_spark.tables import Warehouse

from spans import Tracer, wrap_query_layers

# Input sizes.  "full" is what the recorded figures use; "tiny" is the
# self-test mode that runs every workload in seconds.  The corpus is sized
# so that a run, its set-up included, fits the benchmark's time budget on a
# 4-CPU host; docs_per_shard = 2^14 gives two BMW windows per shard, so
# block-max pruning has windows to skip.  A read pass is ``queries`` local
# queries in rounds of ``per_round``, one Spark search per round and one
# search_many over the queries of every ``BATCH_EVERY`` rounds.  A write
# iteration is one full build, then ``APPENDS`` batches of ``append_convs``
# conversations, each followed by ``write_queries`` local queries.
# ``check_queries`` of the seeded queries, spread over their shapes, warm
# each ``Index`` open and check each build's answers.  A run
# makes ``seconds / pass_s`` whole passes (read) or iterations (write), at
# least one, so every run samples the same mix whatever the host's speed.
# The read workload warms the Spark path with ``SPARK_WARM`` searches and two
# search_many batches; the write workload warms the build path with one
# build of an appended batch.  Both stop short of a fully warm JIT, to keep
# a run within its time budget, so timed Spark jobs of a run still get
# faster as it goes; every run does the same jobs in the same order.
SIZES = {
    "full": dict(
        convs=2000, docs_per_shard=1 << 14, n_buckets=64, k=10,
        queries=64, per_round=8, pass_s=dict(read=10, write=27),
        append_convs=100, write_queries=32, check_queries=8, probes=4,
    ),
    "tiny": dict(
        convs=60, docs_per_shard=256, n_buckets=8, k=5,
        queries=16, per_round=2, pass_s=dict(read=2, write=10),
        append_convs=6, write_queries=8, check_queries=4, probes=2,
    ),
}
FILTER_EVERY = 4  # every 4th query of each shape carries the role filter
OPEN_REPS = 3  # set-up opens the served index this often; the median counts
APPENDS = 2  # each append and its queries cost ~9 s of a run's time budget
SPARK_WARM = 8  # a fully warm Spark path takes ~100 jobs (JIT)
BATCH_EVERY = 2

BUILD_STEPS = ("docs", "tokens", "doc_stats", "term_stats", "meta", "doc_map", "postings")
SEGMENT_STEPS = ("docs", "tokens", "doc_stats", "term_stats", "seg_meta", "postings")
TABLES = ("docs", "tokens", "doc_stats", "term_stats", "doc_map", "postings")
FILTER_ROLE = "user"


def pct(xs: list[float], q: int) -> float:
    """q-th percentile (inclusive method); the lone value for one sample."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(path) for f in files
    )


def write_corpus(path: str, conv_lo: int, n_convs: int, seed: int, files: int = 4) -> tuple[int, int]:
    """Generated transcripts → a Parquet table of ``files`` files.
    Returns (turns, bytes of UTF-8 ``text``)."""
    pdf = generate_conversations(np.arange(conv_lo, conv_lo + n_convs), seed)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    ts = pa.array(pdf["ts"].dt.tz_localize("UTC"), type=pa.timestamp("us", tz="UTC"))
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // files)
    for i in range(files):
        pq.write_table(tbl.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    text_bytes = int(sum(len(t.encode()) for t in pdf["text"]))
    return tbl.num_rows, text_bytes


class Query:
    """One reference query; every ``FILTER_EVERY``-th carries a role filter,
    spelled once for the serving path and once as SQL for ``search``."""

    def __init__(self, i: int, text: str, filtered: bool):
        self.i = i
        self.text = text
        self.local_where = [("role", "=", FILTER_ROLE)] if filtered else None
        self.sql_where = f"role = '{FILTER_ROLE}'" if filtered else None


QUERY_POOL = 4000
HEAD_TERMS = 50  # reference_queries draws its hot terms from the top 50


def query_shape(text: str) -> tuple[int, int]:
    """(distinct present terms, of which head terms): what a query costs."""
    present = {t for t in text.split() if not t.startswith("zzabsent")}
    return len(present), sum(1 for t in present if int(t[1:]) < HEAD_TERMS)


def make_queries(n: int, seed: int) -> list[Query]:
    """``n`` seeded reference queries with the same mix of shapes for every
    seed: the quota of each shape comes from a fixed pool, the queries
    that fill it from the seeded pool.  Every ``FILTER_EVERY``-th query of
    each shape carries the role filter.  Without the fixed mix, which
    queries a seed happens to draw moves the latency more than the engine
    does."""
    mix = Counter(query_shape(q["query"]) for q in reference_queries(QUERY_POOL, seed=0))
    exact = {sh: n * c / QUERY_POOL for sh, c in mix.items()}
    quota = {sh: int(x) for sh, x in exact.items()}
    by_remainder = sorted(exact, key=lambda sh: (quota[sh] - exact[sh], sh))
    for sh in by_remainder[: n - sum(quota.values())]:
        quota[sh] += 1
    picked = []
    for q in reference_queries(QUERY_POOL, seed=seed):
        sh = query_shape(q["query"])
        if quota.get(sh, 0) > 0:
            quota[sh] -= 1
            picked.append((sh, q))
    if len(picked) != n:
        raise RuntimeError(f"seed {seed}: query pool filled {len(picked)} of {n} slots")
    picked.sort(key=lambda x: (x[0], x[1]["qid"]))
    return [
        Query(q["qid"], q["query"], j % FILTER_EVERY == FILTER_EVERY - 1)
        for j, (_sh, q) in enumerate(picked)
    ]


class Bench:
    """Run-wide state shared by the workloads of one process."""

    def __init__(self, spark, cpu, work: str, cache: str, seed: int, size: dict, traced: bool):
        self.spark = spark
        self.cpu = cpu
        self.work = work
        self.cache = cache
        self.seed = seed
        self.size = size
        self.traced = traced
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.setup_parts: dict[str, float] = defaultdict(float)

    def op(self, name: str | None) -> None:
        """Name the operation that follows: its spans carry the name and
        its Spark jobs run in a job group of that name (event-log
        attribution).  None ends it, so checks after an operation are not
        counted."""
        if self.tracer is not None:
            self.tracer.op = name
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)

    def run_op(self, fn, what: str, spark_job: bool = False):
        """Call ``fn`` timed; returns (wall seconds, CPU seconds, result)
        or None on error.  CPU counts the driver alone, or with
        ``spark_job`` the driver JVM and the Python workers too."""
        clock = self.cpu.tree if spark_job else self.cpu.driver
        c0 = clock()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {what} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            self.op(None)
        wall = time.perf_counter() - t0
        return wall, clock() - c0, out

    def build(self, corpus: str, wh: str):
        s = self.size
        return build_index(
            self.spark, self.spark.read.parquet(corpus), wh,
            docs_per_shard=s["docs_per_shard"], n_buckets=s["n_buckets"],
        )

    def timed_setup(self, part: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[part] += time.perf_counter() - t0
        return out

    def oracle_check(self, idx, queries: list[Query]) -> None:
        """Compare the serving path with the DataFrame oracle, which scores
        from the tokens table and shares no codec or kernel code, on the
        first query that has hits."""
        k = self.size["k"]
        for q in queries:
            want = idx.search_local(q.text, k=k, mode="exact", where=q.local_where)
            if want:  # a query with no hits checks nothing
                rows = idx.search_oracle(q.text, k=k, where=q.sql_where).collect()
                self.check(_same(want, [(r["doc_id"], r["score"]) for r in rows]), f"oracle {q.text!r}")
                return


def walls(samples: list[tuple]) -> list[float]:
    return [s[0] for s in samples]


def cpus(samples: list[tuple]) -> list[float]:
    return [s[1] for s in samples]


def _same(a: list[tuple], b: list[tuple]) -> bool:
    return [(int(d), float(s)) for d, s in a] == [(int(d), float(s)) for d, s in b]


def step_walls(wh: str) -> dict[str, dict]:
    """Rows and wall seconds per build step, from the checkpoint rows the
    build's StepRunner writes."""
    out = {}
    for r in Warehouse(wh).read_rows("sys_checkpoint"):
        if r["status"] == "ok" and r["step_id"] != "ALL":
            out[r["step_id"]] = {"rows": r["rows"], "s": r["wall_ms"] / 1000.0,
                                 "end_ms": r["ts"] * 1000.0}
    return out


def query_layers(prefix: str, tr: Tracer, n_queries: int) -> dict[str, float]:
    """Per-query self times (ms) of the serving-path layers under the
    benchmark's ``query`` spans, and their counters."""
    per = max(n_queries, 1)

    def ms(name: str) -> float:
        return 1000.0 * tr.self_s.get(("query", name), 0.0) / per

    def count(key: str) -> float:
        return tr.counters.get(("query", key), 0.0)

    blocks_in_runs = count("blocks_in_runs")
    return {
        f"{prefix}.analyze_ms": ms("analyze"),
        f"{prefix}.plan_ms": ms("plan"),
        f"{prefix}.filter_ms": ms("filter"),
        f"{prefix}.scan_ms": ms("scan"),
        f"{prefix}.kernel_ms": ms("kernel"),
        f"{prefix}.decode_ms": ms("decode"),
        f"{prefix}.merge_ms": ms("query"),
        f"{prefix}.wall_ms": 1000.0 * tr.total_s.get(("query", "query"), 0.0) / per,
        f"{prefix}.posting_runs_per_query": count("posting_runs") / per,
        f"{prefix}.posting_bytes_per_query": count("posting_bytes") / per,
        f"{prefix}.blocks_decoded_per_query": count("blocks_decoded") / per,
        f"{prefix}.block_decode_ratio": (
            count("blocks_decoded") / blocks_in_runs if blocks_in_runs else 0.0
        ),
    }


CORPUS_SEED = 0  # the served corpus is the same for every seed


def served_paths(cache: str, size: dict) -> dict:
    """Where the corpus and index the read workload serves and the write
    workload rebuilds are kept between runs: keyed by the engine's source
    and the input size, so that later runs of the same tree open them
    instead of building them again.  ``done`` is written last, when the
    build has finished."""
    h = hashlib.sha1(json.dumps(
        [size["convs"], size["docs_per_shard"], size["n_buckets"], CORPUS_SEED]).encode())
    pkg = os.path.dirname(os.path.abspath(engine_pkg.__file__))
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    root = os.path.join(cache, h.hexdigest()[:16])
    return {"root": root, "corpus": os.path.join(root, "corpus"),
            "index": os.path.join(root, "index"), "done": os.path.join(root, "served.json")}


def build_served(b: Bench) -> None:
    p = served_paths(b.cache, b.size)
    t0 = time.perf_counter()
    shutil.rmtree(p["root"], ignore_errors=True)  # a build cut short
    turns, text_bytes = write_corpus(p["corpus"], 0, b.size["convs"], CORPUS_SEED)
    b.build(p["corpus"], p["index"])
    with open(p["done"], "w") as f:
        json.dump({"turns": turns, "text_bytes": text_bytes}, f)
    print(f"perfbench: built the served index in {time.perf_counter() - t0:.1f} s", file=sys.stderr)


class Workload:
    name = ""

    def __init__(self, b: Bench):
        self.b = b
        self.s = b.size
        self.queries: list[Query] = []

    def open_served(self, n_queries: int, n_warm: int) -> None:
        """Open the served index ``OPEN_REPS`` times, each followed by a
        warm pass of ``n_warm`` of the seeded queries (``self.warm``, spread
        over the query shapes); the median counts as set-up."""
        b, s = self.b, self.s
        served = served_paths(b.cache, s)
        self.corpus, self.wh = served["corpus"], served["index"]
        with open(served["done"]) as f:
            info = json.load(f)
        self.turns, self.text_bytes = info["turns"], info["text_bytes"]
        self.queries = make_queries(n_queries, b.seed)
        self.warm = self.queries[:: n_queries // n_warm]
        opens = []
        for _ in range(OPEN_REPS):
            t0 = time.perf_counter()
            self.idx = engine.Index(b.spark, self.wh)
            for q in self.warm:
                self.idx.search_local(q.text, k=s["k"], where=q.local_where)
            opens.append(time.perf_counter() - t0)
        b.setup_parts["open"] += statistics.median(opens)

    def table_bytes(self, wh: str) -> dict[str, float]:
        return {f"tables.{t}_bytes": float(dir_bytes(os.path.join(wh, t))) for t in TABLES}

    def timed_query(self, idx, q: Query):
        """One search_local call, under a ``query`` span when traced."""
        k, tr = self.s["k"], self.b.tracer
        if tr is None:
            return idx.search_local(q.text, k=k, where=q.local_where)
        with tr.span("query"):
            return idx.search_local(q.text, k=k, where=q.local_where)

    def passes(self, seconds: float, one_pass) -> None:
        """As many whole passes as take about ``seconds`` on the reference
        host, at least one: a fixed count, not a deadline, so a slow
        moment does not change which operations a run samples."""
        for _ in range(max(1, round(seconds / self.s["pass_s"][self.name]))):
            one_pass()


class Read(Workload):
    """Point queries through search_local (no Spark job) interleaved with
    search().collect() and search_many batches on the same index: the
    Spark job, shuffle and grouped-pandas UDF path that search_local
    bypasses."""

    name = "read"

    def setup(self):
        b, s = self.b, self.s
        self.open_served(s["queries"], s["check_queries"])
        idx, k = self.idx, s["k"]
        self.key = {
            q.i: idx.search_local(q.text, k=k, mode="exact", where=q.local_where)
            for q in self.queries
        }
        self.key_plain = {q.i: idx.search_local(q.text, k=k) for q in self.queries}
        # Spark singles cycle through the queries with a fixed share of
        # filtered ones: FILTER_EVERY - 1 plain, then one filtered
        rng = np.random.default_rng(b.seed)
        plain = [q for q in self.queries if not q.sql_where]
        filtered = [q for q in self.queries if q.sql_where]
        rng.shuffle(plain)
        rng.shuffle(filtered)
        per = FILTER_EVERY - 1
        self.singles = [
            q for r in range(len(filtered)) for q in plain[r * per:(r + 1) * per] + [filtered[r]]
        ]
        self.rng = rng
        self.n_single = 0
        self.n_batch = 0
        # the Spark path takes a few dozen jobs to warm (JIT, Python
        # workers): warm searches and two batches, checked like timed ones
        warm = {"lat": [], "singles": [], "batches": []}

        def spark_warmup():
            for _ in range(SPARK_WARM):
                self._single(warm, self.singles[self.n_single % len(self.singles)])
                self.n_single += 1
            for j in range(2):
                n = s["per_round"] * BATCH_EVERY
                self._batch(warm, self.queries[j * n:(j + 1) * n])

        b.timed_setup("spark_warmup", spark_warmup)

    def loop(self, seconds: float) -> dict:
        smp = {"lat": [], "singles": [], "batches": []}
        self.passes(seconds, lambda: self._pass(smp))
        return smp

    def _pass(self, smp: dict) -> None:
        b, s = self.b, self.s
        order = [self.queries[i] for i in self.rng.permutation(len(self.queries))]
        per, every = s["per_round"], BATCH_EVERY
        for r in range(len(order) // per):
            for q in order[r * per:(r + 1) * per]:
                b.op(f"q-{q.i}")
                got = b.run_op(lambda: self.timed_query(self.idx, q), f"search_local {q.text!r}")
                if got is not None:
                    smp["lat"].append(got[:2])
                    b.check(_same(got[2], self.key[q.i]), f"search_local {q.text!r}")
            self._single(smp, self.singles[self.n_single % len(self.singles)])
            self.n_single += 1
            if r % every == every - 1:
                self._batch(smp, order[(r - every + 1) * per:(r + 1) * per])

    def _single(self, smp: dict, q: Query) -> None:
        b, k, tr = self.b, self.s["k"], self.b.tracer

        def run():
            return [(r["doc_id"], r["score"]) for r in self.idx.search(q.text, k=k, where=q.sql_where).collect()]

        def traced():
            with tr.span("search"):
                return run()

        b.op(f"sq-{self.n_single}")
        got = b.run_op(run if tr is None else traced, f"search {q.text!r}", spark_job=True)
        if got is not None:
            smp["singles"].append(got[:2])
            b.check(_same(got[2], self.key[q.i]), f"search {q.text!r}")

    def _batch(self, smp: dict, batch: list[Query]) -> None:
        b, k, tr = self.b, self.s["k"], self.b.tracer

        def run():
            return self.idx.search_many([q.text for q in batch], k=k).collect()

        def traced():
            with tr.span("search_many"):
                return run()

        b.op(f"batch-{self.n_batch}")
        self.n_batch += 1
        got = b.run_op(run if tr is None else traced, "search_many", spark_job=True)
        if got is None:
            return
        smp["batches"].append((*got[:2], len(batch)))
        by_q = defaultdict(list)
        for r in sorted(got[2], key=lambda r: (int(r["qid"]), r["rank"])):
            by_q[int(r["qid"])].append((r["doc_id"], r["score"]))
        for j, q in enumerate(batch):
            b.check(_same(by_q.get(j, []), self.key_plain[q.i]), f"search_many {q.text!r}")

    def post_check(self):
        self.b.oracle_check(self.idx, self.queries)

    def e2e(self, smp):
        lat, singles, batches = smp["lat"], smp["singles"], smp["batches"]
        bq = sum(n for _w, _c, n in batches)
        lat_cpu, sq_cpu = cpus(lat), cpus(singles)
        lat, singles = walls(lat), walls(singles)
        return {
            "query_cpu_p50_ms": 1000 * pct(lat_cpu, 50),
            "query_cpu_p90_ms": 1000 * pct(lat_cpu, 90),
            "job_cpu_p50_ms": 1000 * pct(sq_cpu, 50),
            "items_per_cpu_s": bq / sum(cpus(batches)),
            "index_bytes_per_text_byte": dir_bytes(self.wh) / self.text_bytes,
        }, {
            "serve_p50_ms": 1000 * pct(lat, 50), "serve_p99_ms": 1000 * pct(lat, 99),
            "serve_qps": len(lat) / sum(lat),
            "spark_query_p50_ms": 1000 * pct(singles, 50),
            "spark_query_p90_ms": 1000 * pct(singles, 90),
            "batch_queries_per_s": bq / sum(walls(batches)),
        }

    def probes(self, smp) -> None:
        """The Spark-boundary probes: the pruned postings frame search()
        builds, sent through a no-op grouped pandas UDF and through a plain
        JVM count over the same grouping."""
        import pandas as pd
        from pyspark.sql import functions as F

        empty = pd.DataFrame({"doc_id": np.empty(0, np.int64), "score": np.empty(0, np.float64)})
        self.noop_s, self.count_s, self.n_probe = 0.0, 0.0, 0
        for q in self.singles[: self.s["probes"]]:
            idfw, buckets = self.idx._plan_terms(q.text)
            if not idfw:
                continue
            hits = self.idx.postings.filter(
                F.col("term_bucket").isin(buckets) & F.col("term").isin(list(idfw))
            )
            t0 = time.perf_counter()
            hits.groupBy("shard").applyInPandas(lambda pdf: empty, schema=engine.TOPK_SCHEMA).collect()
            t1 = time.perf_counter()
            hits.groupBy("shard").count().collect()
            t2 = time.perf_counter()
            self.noop_s += t1 - t0
            self.count_s += t2 - t1
            self.n_probe += 1

    def layers(self, smp, tracer, events):
        out = self.table_bytes(self.wh)
        out.update(query_layers("serve", tracer, len(smp["lat"])))
        n = max(len(smp["singles"]), 1)
        nb = max(len(smp["batches"]), 1)
        # planning runs inside each Spark call: split it off by the span totals
        plan_single = tracer.total_s.get(("search", "plan"), 0.0)
        plan_batch = tracer.total_s.get(("search_many", "plan"), 0.0)
        out.update({
            "spark_query.plan_ms": 1000 * plan_single / n,
            "spark_query.job_ms": 1000 * (sum(walls(smp["singles"])) - plan_single) / n,
            "batch.plan_ms": 1000 * plan_batch / nb,
            "batch.job_ms": 1000 * (sum(walls(smp["batches"])) - plan_batch) / nb,
            "spark_query.noop_udf_ms": 1000 * self.noop_s / max(self.n_probe, 1),
            "spark_query.jvm_count_ms": 1000 * self.count_s / max(self.n_probe, 1),
        })
        if events is not None:
            sq = [g for name, g in events.groups.items() if name.startswith("sq-")]
            bt = [g for name, g in events.groups.items() if name.startswith("batch-")]
            out.update({
                "spark_query.jobs_per_query": sum(g["jobs"] for g in sq) / n,
                "spark_query.stages_per_query": sum(g["stages"] for g in sq) / n,
                "spark_query.shuffle_bytes_per_query": sum(g["shuffle_write_bytes"] for g in sq) / n,
                "batch.jobs_per_batch": sum(g["jobs"] for g in bt) / nb,
                "batch.stages_per_batch": sum(g["stages"] for g in bt) / nb,
            })
        return out


class Write(Workload):
    """The write path: per iteration, one full build_index over the seeded
    corpus into a fresh warehouse, then append_segment batches onto that
    index, each followed by an Index reopen and a fixed query set."""

    name = "write"

    def setup(self):
        b, s = self.b, self.s
        self.batches = []
        for j in range(APPENDS):
            path = os.path.join(b.work, f"write-batch-{j}")
            b.timed_setup(
                "corpus",
                lambda: write_corpus(path, s["convs"] + j * s["append_convs"], s["append_convs"], b.seed),
            )
            self.batches.append(path)
        # the JVM's first build, so that timed builds are warm
        warm = os.path.join(b.work, "write-warmup")
        b.timed_setup("build", lambda: b.build(self.batches[0], warm))
        shutil.rmtree(warm)
        # the served index is the reference: timed builds of its corpus must
        # write the same rows and answer like it
        self.open_served(s["write_queries"], s["check_queries"])
        self.ref_rows = {k: v["rows"] for k, v in step_walls(self.wh).items()}
        self.key = {
            q.i: self.idx.search_local(q.text, k=s["k"], mode="exact", where=q.local_where)
            for q in self.warm
        }
        self.n = 0
        self.build_bytes = 0
        self.last_wh = None
        self.last_idx = None

    def loop(self, seconds: float) -> dict:
        smp = {"builds": [], "steps": [], "refresh": [], "appends": [], "lat": []}
        self.passes(seconds, lambda: self._iteration(smp))
        return smp

    def _iteration(self, smp: dict) -> None:
        b, k = self.b, self.s["k"]
        wh = os.path.join(self.b.work, f"write-{self.n}")
        group = f"build-{self.n}"
        self.n += 1
        b.op(group)
        got = b.run_op(lambda: b.build(self.corpus, wh), "build_index", spark_job=True)
        if got is None:
            shutil.rmtree(wh, ignore_errors=True)
            return
        smp["builds"].append(got[:2])
        st = step_walls(wh)
        smp["steps"].append((group, st))
        idx = engine.Index(b.spark, wh)
        b.check(
            {s: v["rows"] for s, v in st.items()} == self.ref_rows
            and all(
                _same(idx.search_local(q.text, k=k, where=q.local_where), self.key[q.i])
                for q in self.warm
            ),
            f"build_index {wh}",
        )
        self.build_bytes = self.build_bytes or dir_bytes(wh)
        for j, batch in enumerate(self.batches):
            b.op(f"append-{self.n}-{j}")
            got = b.run_op(lambda: self._refresh(wh, batch, j, smp), "append_segment", spark_job=True)
            if got is None:
                shutil.rmtree(wh, ignore_errors=True)
                return
            idx = got[2]
            smp["refresh"].append(got[:2])
            for q in self.queries:
                b.op(f"q-{q.i}")
                got = b.run_op(lambda: self.timed_query(idx, q), f"search_local {q.text!r}")
                if got is None:
                    continue
                smp["lat"].append(got[:2])
                want = idx.search_local(q.text, k=k, mode="exact", where=q.local_where)
                b.check(_same(got[2], want), f"search_local after append {q.text!r}")
        if self.last_wh is not None:
            shutil.rmtree(self.last_wh)
        self.last_wh, self.last_idx = wh, idx

    def _refresh(self, wh: str, batch: str, j: int, smp: dict):
        """append_segment + Index reopen: the time until a batch is searchable."""
        b, tr = self.b, self.b.tracer
        df = b.spark.read.parquet(batch)
        if tr is None:
            incremental.append_segment(b.spark, df, wh, idempotency_key=f"batch-{j}")
            return engine.Index(b.spark, wh)
        with tr.span("refresh"):
            t0 = time.perf_counter()
            with tr.span("append"):
                seg = incremental.append_segment(b.spark, df, wh, idempotency_key=f"batch-{j}")
            append_s = time.perf_counter() - t0
            idx = engine.Index(b.spark, wh)
        st = step_walls(incremental.seg_warehouse(Warehouse(wh), seg).root)
        smp["appends"].append((st, append_s))
        return idx

    def post_check(self):
        if self.last_idx is not None:
            self.b.oracle_check(self.last_idx, self.queries)

    def e2e(self, smp):
        r, lat, builds = smp["refresh"], smp["lat"], smp["builds"]
        bytes_ratio = self.build_bytes / self.text_bytes
        return {
            "query_cpu_p50_ms": 1000 * pct(cpus(lat), 50),
            "query_cpu_p90_ms": 1000 * pct(cpus(lat), 90),
            "job_cpu_p50_ms": 1000 * pct(cpus(r), 50),
            "items_per_cpu_s": self.turns / statistics.median(cpus(builds)),
            "index_bytes_per_text_byte": bytes_ratio,
        }, {
            "build_turns_per_s": self.turns / statistics.median(walls(builds)),
            "index_bytes_per_text_byte": bytes_ratio,
            "refresh_p50_s": pct(walls(r), 50),
            "ingest_query_p50_ms": 1000 * pct(walls(lat), 50),
            "ingest_query_p99_ms": 1000 * pct(walls(lat), 99),
        }

    def layers(self, smp, tracer, events):
        out = self.table_bytes(self.last_wh)
        acc = defaultdict(float)
        for (group, st), wall in zip(smp["steps"], walls(smp["builds"])):
            for step in BUILD_STEPS:
                acc[f"build.{step}_s"] += st.get(step, {}).get("s", 0.0)
            acc["build.control_s"] += wall - sum(v["s"] for v in st.values())
            acc["build.wall_s"] += wall
            if events is not None:
                g = events.groups.get(group, {})
                acc["build.jobs"] += g.get("jobs", 0)
                acc["build.stages"] += g.get("stages", 0)
                acc["build.gc_s"] += g.get("gc_s", 0.0)
                p = st.get("postings")
                if p is not None:
                    win = events.window(p["end_ms"] - 1000 * p["s"], p["end_ms"])
                    acc["build.shuffle_write_bytes"] += win["shuffle_write_bytes"]
                    acc["build.spill_bytes"] += win["spill_bytes"]
                    acc["build.task_skew"] += win["task_skew"]
        out.update({k: v / max(len(smp["builds"]), 1) for k, v in acc.items()})
        out["build.tokens_rows"] = float(self.ref_rows.get("tokens", 0))
        out["build.postings_rows"] = float(self.ref_rows.get("postings", 0))
        acc = defaultdict(float)
        for st, append_s in smp["appends"]:
            for step in SEGMENT_STEPS:
                acc[f"ingest.{step}_s"] += st.get(step, {}).get("s", 0.0)
            acc["ingest.commit_s"] += append_s - sum(v["s"] for v in st.values())
        out.update({k: v / max(len(smp["appends"]), 1) for k, v in acc.items()})
        q = query_layers("ingest", tracer, len(smp["lat"]))
        reopens = tracer.calls.get(("refresh", "reopen"), 0)
        out["ingest.reopen_ms"] = 1000 * tracer.total_s.get(("refresh", "reopen"), 0.0) / max(reopens, 1)
        out["ingest.segments"] = float(len(self.batches) + 1)
        out["ingest.kernel_ms"] = q["ingest.kernel_ms"]
        out["ingest.block_decode_ratio"] = q["ingest.block_decode_ratio"]
        out["ingest.query_wall_ms"] = q["ingest.wall_ms"]
        return out


WORKLOADS = {w.name: w for w in (Read, Write)}


def install_tracer(b: Bench) -> Tracer:
    b.tracer = Tracer()
    wrap_query_layers(b.tracer, engine, bm25, kernels, codec)
    return b.tracer
