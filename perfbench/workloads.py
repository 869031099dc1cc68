"""The two workloads and the per-layer probes.

``query``  one long-lived ``Engine(cache=True)`` (the interactive
           server) answers every pool query once -- first sight, plan
           memo miss -- and then again in repeats, where its plan memo
           hits; every pool query is also answered once by a fresh
           ``Engine(cache=False)``, the shape of ``jobs/search.py`` and
           CLI ``-search``.
``ingest`` a long-lived index receives a seeded micro-batch: a plain
           ``upsert`` that leaves tombstones and delta segments, on
           which the server engine and fresh engines answer a fixed
           query set led by the batch-unique token (it must return
           exactly the batch's live documents); then ``delete_by_path``,
           whose commit runs the dictionary fold and a whole
           tombstone-compaction epoch, and the same set on the server.

Every search asks for k=20 hits with display fields and snippets in the
blocks plan (selected through ``mode=`` while ``Engine.search`` has it).
"""

from __future__ import annotations

import inspect
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import time
import traceback

from mias_spec.corpus import EXACT_AST, render_math
from perfbench import inputs
from perfbench.checks import Checker
from perfbench.tracing import Tracer

K = 20
#: the read-your-writes query asks for more than the batch's documents
RYW_K = 64
#: server repeats of each query right after its step, so the warm
#: samples are spread over the whole measured region
REPEATS = 2
#: traced query runs split pool queries 0, 4 (a text and a math one)
#: into their layers
SPLIT_EVERY = 4
#: set-up ends with this text+math query on the server engine, so the
#: JVM has planned and compiled the search path
WARMUP_QUERY = "energy " + render_math(EXACT_AST)

#: workload -> (make_corpus rows, text rows, text groups, per-family
#: rows, term buckets). The query index has build_index's default 16
#: buckets, as every user path builds. The ingest index has one: then a
#: single maintenance call runs a whole compaction epoch, fold included,
#: so every run shows both.
SIZES = {"query": (200, 60, 3, 6, 16), "ingest": (80, 40, 2, 3, 1)}
#: ingest batch: new docs, redeliveries. 14 tombstoned versions among
#: 126 live docs stay under the 25% compaction ratio, so the upsert is
#: plain; deleting one 20-doc text group then crosses it.
BATCH = (6, 14)

TABLES = ["doc_store", "tokens", "doc_norms", "dictionary", "postings",
          "blocks", "tombstones", "_meta"]
BUILD_STAGES = ["doc_store", "tokens", "doc_norms", "dictionary",
                "postings"]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Run:
    """One benchmark run: set-up, the workload's measured region, then
    the correctness check. Holds the Spark session and the index."""

    def __init__(self, root: str, workload: str, seed: int,
                 seconds: float, trace: bool):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.work = os.path.join(root, ".perfbench",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.ix = os.path.join(self.work, "index")
        self.cpus = str(min(4, os.cpu_count() or 1))
        self.attempted = 0
        self.failures: list[str] = []
        self.m: dict[str, float] = {}       # metrics by name
        #: latency samples by kind: server first sight ("first") and
        #: repeats ("warm"), fresh engines ("cold"), closed-loop steps,
        #: and on ingest the server after the compacting commit
        self.samples: dict[str, list[float]] = {
            "first": [], "warm": [], "cold": [], "step": [],
            "compacted": []}
        self.ran: list[str] = []            # queries sent to the server
        self.repeats = 0                    # ... that it had answered
        self.layer: dict[str, list[float]] = {}
        self.space: list[dict] = []

    # ------------------------------------------------------------ helpers
    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(float(value))

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def manifest(self) -> dict:
        with open(os.path.join(self.ix, "manifest.json")) as f:
            return json.load(f)

    def account(self, at: str) -> dict:
        """Per-table and manifest bytes plus maintenance state, read
        from outside the program."""
        m = self.manifest()
        row = {"at": at,
               "manifest_bytes": os.path.getsize(
                   os.path.join(self.ix, "manifest.json")),
               "compact_steps": sum(1 for x in m.get("metrics", [])
                                    if x.get("stage") == "compact_step"),
               "dict_segments": int(m.get("props", {})
                                    .get("dict_segments", 0) or 0),
               "snapshot": m.get("snapshot")}
        for t in TABLES:
            p = os.path.join(self.ix, t)
            row[f"{t}_bytes"] = _dir_bytes(p) if os.path.isdir(p) else 0
        row["index_bytes"] = _dir_bytes(self.ix)
        self.space.append(row)
        return row

    def search(self, eng, query: str, kind: str, k: int = K, **kw):
        """One timed search; returns (result or None, ms)."""
        self.attempted += 1
        if eng is self.server and kind != "full":
            self.repeats += kind == "warm"
            self.ran.append(query)
        args = dict(k=k, with_fields=True, snippets=True, **self.mode)
        args.update(kw)
        t = time.perf_counter()
        try:
            with self.tracer.span(f"search.{kind}"):
                res = eng.search(query, **args)
        except Exception:
            self.fail(f"{kind} search raised: {traceback.format_exc(limit=2)}")
            return None, 0.0
        return res, (time.perf_counter() - t) * 1000

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        os.makedirs(self.work, exist_ok=True)
        ng, nt, groups, nfam, self.n_buckets = SIZES[self.workload]
        self.base = inputs.base_corpus(self.seed, ng, nt, groups, nfam)

        from mias_spark.build import build_index
        from mias_spark.search import Engine
        from mias_spark.session import get_spark
        self.Engine = Engine
        self.mode = ({"mode": "blocks"} if "mode" in
                     inspect.signature(Engine.search).parameters else {})

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.m["session.start_s"] = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.trace)
        with self.tracer.span("build") as sb:
            corpus = self.spark.createDataFrame(self.base)
            tb = time.perf_counter()
            build_index(self.spark, corpus, self.ix,
                        n_buckets=self.n_buckets)
            build_s = time.perf_counter() - tb
        with self.tracer.span("catalog.open"):
            self.server = Engine(self.spark, self.ix, cache=True)
        with self.tracer.span("search.warmup"):
            self.server.search(WARMUP_QUERY, k=K, with_fields=True,
                               snippets=True, **self.mode)
        self.m["setup_s"] = time.perf_counter() - t0
        self.m["build.s"] = build_s
        self.m["build.jobs"], self.m["build.stages"] = sb.jobs, sb.stages
        self.m["build_docs_per_s"] = len(self.base) / build_s
        secs = {x["stage"]: float(x.get("secs") or 0.0)
                for x in self.manifest().get("metrics", [])}
        for st in BUILD_STAGES:
            self.m[f"build.{st}_s"] = secs.get(st, 0.0)
        self.m["build.rest_s"] = secs.get("build_total", build_s) - sum(
            secs.get(st, 0.0) for st in BUILD_STAGES)
        self.after_setup = self.account("setup")

    def cold(self, query: str, k: int = K):
        """A CLI-shaped search: open a fresh engine, then search. The
        open is part of the latency."""
        t = time.perf_counter()
        with self.tracer.span("catalog.open"):
            eng = self.Engine(self.spark, self.ix)
        res, _ = self.search(eng, query, "cold", k=k)
        return res, (time.perf_counter() - t) * 1000

    # ------------------------------------------------------------- query
    def passes(self, qs: list[tuple], done: list,
               split: tuple = ()) -> None:
        """The query set ``qs`` of (checker, query, k): each query seen
        for the first time by the server engine, then by a fresh engine
        -- together one closed-loop step -- and then REPEATS times more
        by the server, where its plan memo hits. Results are checked
        after the timed region. Traced runs split the queries in
        ``split`` into their layers."""
        for chk, q, k in qs:
            self.tracer.new_trace()
            with self.tracer.span("step"):
                res, first = self.search(self.server, q, "first", k=k)
                cres, cold = self.cold(q, k)
            done += [(chk, q, k, res, first, "first"),
                     (chk, q, k, cres, cold, "cold")]
            if self.workload == "query":
                self.samples["step"].append(first + cold)
            for _ in range(REPEATS):
                res, ms = self.search(self.server, q, "warm", k=k)
                done.append((chk, q, k, res, ms, "warm"))
            if self.trace and q in split:
                with self.tracer.span("layers"):
                    self.layered(q, chk)

    def verify(self, done: list, token: str | None = None) -> None:
        """Check every (checker, query, k, result, ms, kind) against the
        oracle; every timed search that returned is a latency sample of
        its kind."""
        for chk, q, k, res, ms, kind in done:
            if res is None:
                continue
            if kind == "full":
                why = chk.full_problem(q, res.hits)
            else:
                if kind in self.samples:
                    self.samples[kind].append(ms)
                why = chk.problem(q, res.hits, k)
            if not why and q == token:
                want = {chk.key_of[rp] for rp, (c, _) in chk.content.items()
                        if token in c}
                got = {chk.key_of.get(rp) for rp in
                       zip(res.hits["repo"], res.hits["path"])}
                if got != want:
                    why = (f"read-your-writes: {len(got)} docs, want the "
                           f"batch's {len(want)}")
            if why:
                self.fail(f"{kind} {q[:60]!r}: {why}")

    def run_query(self) -> None:
        self.live = self.base
        check = Checker(self.live)
        pool = inputs.query_pool(self.seed, self.base)
        qs = [(check, q, K) for q in pool]
        done: list[tuple] = []
        # whole query sets, each on a server engine of its own, so every
        # run's samples have the same mix; traced runs take one, so
        # their job and stage counts repeat exactly for a seed
        deadline = time.perf_counter() + self.seconds
        while True:
            self.passes(qs, done, split=tuple(pool[::SPLIT_EVERY]))
            if self.trace or time.perf_counter() >= deadline:
                break
            self.server.close()
            self.server = self.Engine(self.spark, self.ix, cache=True)
        self.verify(done)

    def layered(self, q: str, chk: Checker) -> None:
        """Per-layer split of one query: parse, server compile, then the
        CLI path on fresh engines -- compile, bare rank, + display
        fields, + snippets -- each variant on its own Engine, compiled
        first, so no memo or file listing carries between them. Every
        variant's hits are checked."""
        from mias_spec.queries import compile_query
        from mias_spec.snippets import make_snippet
        tr = self.tracer
        with tr.span("query.parse") as sp:
            cq = compile_query(q)
        self.note("query.parse_ms", sp.secs * 1000)
        if hasattr(self.server, "compile"):
            with tr.span("compile.warm") as s:
                self.server.compile(q)
            self.note("compile.warm_ms", s.secs * 1000)
            self.note("compile.warm_jobs", s.jobs)
        spans, hits = {}, {}
        for variant, kw in (("rank", dict(with_fields=False,
                                           snippets=False)),
                            ("display", dict(with_fields=True,
                                             snippets=False)),
                            ("snippets", dict(with_fields=True,
                                              snippets=True))):
            with tr.span("catalog.open") as so:
                eng = self.Engine(self.spark, self.ix)
            self.note("catalog.open_ms", so.secs * 1000)
            if hasattr(eng, "compile"):
                with tr.span("compile") as sc:
                    eng.compile(q)
                if variant == "rank":
                    spans["compile"] = sc
            self.attempted += 1
            with tr.span(variant) as sv:
                try:
                    res = eng.search(q, k=K, **self.mode, **kw)
                except Exception:
                    self.fail(f"{variant} search raised: "
                              f"{traceback.format_exc(limit=2)}")
                    return
            spans[variant], hits[variant] = sv, res.hits
            why = chk.problem(q, res.hits, K, **kw)
            if why:
                self.fail(f"{variant} {q[:60]!r}: {why}")
        ids = [set(zip(hits[v]["doc_id"], hits[v]["score"].round(6)))
               for v in ("rank", "snippets")]
        if ids[0] != ids[1]:
            self.fail(f"rank {q[:60]!r}: bare hits differ from the "
                      "displayed ones")
        sc = spans.get("compile")
        c_ms, c_jobs = (sc.secs * 1000, sc.jobs) if sc else (0.0, 0)
        r, d, s = spans["rank"], spans["display"], spans["snippets"]
        self.note("compile.ms", c_ms)
        self.note("compile.jobs", c_jobs)
        self.note("rank.ms", r.secs * 1000 - c_ms)
        self.note("rank.jobs", r.jobs - c_jobs)
        self.note("rank.stages", r.stages - (sc.stages if sc else 0))
        self.note("display.ms", (d.secs - r.secs) * 1000)
        self.note("display.jobs", d.jobs - r.jobs)
        self.note("snippets.ms", (s.secs - d.secs) * 1000)
        self.note("snippets.jobs", s.jobs - d.jobs)
        bs = getattr(res, "blocks_stats", None) or {}
        for key in ("skipped_blocks", "n_shards", "meta_rows"):
            self.note(f"rank.{key}", bs.get(key) or 0)
        self.note("rank.gte", getattr(res, "total_hits_relation", "eq")
                  == "gte")
        # snippet CPU cost on the driver, for the hits just returned
        text_terms = sorted({c.term for c in cq.clauses
                             if c.fld in ("content", "title")})
        mterms = {c.term for c in cq.clauses if c.fld in ("pmath", "cmath")}
        phrases = [tuple(p.terms) for p in cq.phrases if not p.must_not]
        docs = [chk.content[rp] for rp in
                zip(res.hits["repo"], res.hits["path"]) if rp in chk.content]
        t = time.perf_counter()
        for c, lg in docs:
            make_snippet(c, lg, text_terms, mterms, phrases)
        self.note("snippets.cpu_ms", (time.perf_counter() - t) * 1000)

    # ------------------------------------------------------------- ingest
    def run_ingest(self) -> None:
        from mias_spark.ops import delete_by_path, upsert
        nn, nr = BATCH
        batch = inputs.ingest_batch(self.seed, self.base, nn, nr,
                                    SIZES["ingest"][2])
        mid = inputs.merged(self.base, batch.upsert)
        self.live = inputs.deleted(mid, batch.delete_prefix)
        # oracles are built before the timed region and read after it
        check_mid, check = Checker(mid), Checker(self.live)
        pool = inputs.query_pool(self.seed, self.base, 4 * inputs.N_SHAPES)
        text_q = next(q for q in pool
                      if not inputs.is_math(q) and check.expected(q))
        math_q = next(q for q in pool
                      if inputs.is_math(q) and check.expected(q))
        tok = batch.token
        qset = [(tok, RYW_K), (text_q, K), (math_q, K)]
        # (checker, query, k, result, ms, kind)
        done: list[tuple] = []
        # (name, secs, span, compaction steps, folded)
        self.ops: list[tuple] = []

        def commit(name: str, fn) -> bool:
            before = self.account(f"before-{name}")
            self.attempted += 1
            try:
                with self.tracer.span(name) as s:
                    fn()
            except Exception:
                self.fail(f"{name} raised: {traceback.format_exc(limit=2)}")
                return False
            after = self.account(name)
            steps = after["compact_steps"] - before["compact_steps"]
            self.ops.append((name, s.secs, s, steps,
                             after["dict_segments"] == 0))
            return True

        self.tracer.new_trace()
        # the plain upsert leaves tombstones and delta segments: the
        # query set runs on that index (first sight on the new snapshot
        # with the read-your-writes token first, fresh engines, repeats)
        if not commit("upsert", lambda: upsert(
                self.spark, self.ix,
                self.spark.createDataFrame(batch.upsert))):
            return
        self.m["tombstone.ratio"] = self._tombstone_ratio()
        self.passes([(check_mid, q, k) for q, k in qset], done,
                    split=(text_q,))
        # the delete's tombstones cross the compaction ratio: one
        # compaction epoch and the dictionary fold; the server answers
        # the set again on the compacted index
        if not commit("delete", lambda: delete_by_path(
                self.spark, self.ix, batch.delete_prefix)):
            return
        for q, k in qset:
            res, ms = self.search(self.server, q, "compacted", k=k)
            done.append((check, q, k, res, ms, "compacted"))
        res, _ = self.search(self.server, tok, "full", k=1 << 20,
                             snippets=False)
        done.append((check, tok, 1 << 20, res, 0.0, "full"))
        self.account("end")
        self.verify(done, tok)
        # the batch: both commits, each until its documents are visible
        # to the token query on the server
        visible = [ms for _c, q, _k, _r, ms, kind in done
                   if q == tok and kind in ("first", "compacted")]
        self.samples["step"].append(
            sum(o[1] for o in self.ops) * 1000 + sum(visible))
        warm = [ms for _c, q, _k, _r, ms, kind in done
                if q == tok and kind in ("first", "warm")]
        self.m["refresh.ms"] = warm[0] - _median(warm[1:])
        self.ingest_metrics(len(batch.upsert))

    def ingest_metrics(self, delivered: int) -> None:
        ops = self.ops
        up = [o for o in ops if o[0] == "upsert"]
        dl = [o for o in ops if o[0] == "delete"]
        self.m["upsert.s"] = _median([o[1] for o in up])
        self.m["upsert.jobs"] = sum(o[2].jobs for o in up)
        self.m["upsert.stages"] = sum(o[2].stages for o in up)
        self.m["upsert.plain_s"] = _median([o[1] for o in up if not o[3]])
        self.m["delete.s"] = _median([o[1] for o in dl])
        self.m["delete.jobs"] = sum(o[2].jobs for o in dl)
        self.m["compact.steps"] = sum(o[3] for o in ops)
        self.m["fold.count"] = sum(o[4] for o in ops)
        self.m["ingest_docs_per_s"] = delivered / sum(o[1] for o in ops)
        self.m["catalog.manifest_growth_bytes_per_upsert"] = (
            self.space[-1]["manifest_bytes"]
            - self.after_setup["manifest_bytes"]) / max(1, len(up))
        # the workload exists to run both maintenance paths every time
        self.attempted += 1
        if self.m["compact.steps"] < 1 or self.m["fold.count"] < 1:
            self.fail("the batch ran no compaction step or no fold")

    def _tombstone_ratio(self) -> float:
        import pyarrow.dataset as pds
        tomb = os.path.join(self.ix, "tombstones")
        if not os.path.isdir(tomb):
            return 0.0
        dead = pds.dataset(tomb, format="parquet").count_rows()
        store = pds.dataset(os.path.join(self.ix, "doc_store"),
                            format="parquet", partitioning="hive")
        return dead / max(1, store.count_rows() - dead)

    # ------------------------------------------------------------- probes
    def probe_tokenize(self) -> None:
        from mias_spec.document import _is_markup, tokenize_document
        docs = self.base.sample(n=min(60, len(self.base)),
                                random_state=self.seed)
        text = [(c, lg) for c, lg in zip(docs["content"], docs["lang"])
                if not _is_markup(c, lg)]
        math = [(c, lg) for c, lg in zip(docs["content"], docs["lang"])
                if _is_markup(c, lg) and "<math" in c]
        for name, group in (("text", text), ("math", math)):
            t = time.perf_counter()
            toks = [tokenize_document(c, lg) for c, lg in group]
            el = time.perf_counter() - t
            self.m[f"tokenize.{name}_docs_per_s"] = len(group) / el \
                if el > 0 else 0.0
            if name == "math":
                self.m["tokenize.mterms_per_doc"] = _median(
                    [sum(1 for f, *_ in d.tokens if f in ("pmath", "cmath"))
                     for d in toks])

    def probe_overhead(self) -> None:
        """Same warm query, tracing off and on, alternating."""
        on, off = [], []
        for i in range(6):
            self.tracer.enabled = bool(i % 2)
            t = time.perf_counter()
            with self.tracer.span("overhead"):
                self.server.search(WARMUP_QUERY, k=K, with_fields=True,
                                   snippets=True, **self.mode)
            (on if i % 2 else off).append(time.perf_counter() - t)
        self.tracer.enabled = True
        self.m["trace.overhead_ms"] = (_median(on) - _median(off)) * 1000

    def memory(self) -> None:
        self.m["mem.driver_peak_rss_mb"] = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        hwm = 0.0
        if proc is not None:
            try:
                with open(f"/proc/{proc.pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            hwm = int(line.split()[1]) / 1024
            except OSError:
                pass
        self.m["mem.jvm_peak_rss_mb"] = hwm

    # ------------------------------------------------------------- totals
    def finish(self) -> None:
        m = self.m
        m["warm_search_p50_ms"] = _median(self.samples["warm"])
        m["cold_search_p50_ms"] = _median(self.samples["cold"])
        m["step_p50_ms"] = _median(self.samples["step"])
        if self.workload == "ingest":
            # space ratio at the end of the run; the tables as the
            # searches after the upsert saw them (tombstones, deltas)
            end = self.space[-1]
            state = next((r for r in self.space if r["at"] == "upsert"),
                         end)
        else:
            end = state = self.after_setup
        live_bytes = int(self.live["content"].str.encode("utf-8")
                         .str.len().sum())
        m["index_bytes_per_input_byte"] = end["index_bytes"] / live_bytes
        m["catalog.manifest_bytes"] = state["manifest_bytes"]
        for t in TABLES:
            m[f"index.{t.strip('_')}_bytes"] = state[f"{t}_bytes"]
        for k, v in self.layer.items():
            m[k] = _median(v)
        m["rank.gte_share"] = m.pop("rank.gte", 0.0)
        # a repeat: a query the server engine answered before on the
        # same snapshot
        m["load.repeat_share"] = self.repeats / max(1, len(self.ran))
        m["load.math_share"] = sum(map(inputs.is_math, self.ran)) \
            / max(1, len(self.ran))
        m["trace.span_coverage"] = _median(self.tracer.coverage("step"))
        self.memory()

    def tails(self) -> dict:
        """Median plus the highest of p75/p90/p95/p99 that keeps at
        least ten samples beyond it, with the sample count."""
        out = {}
        for kind, xs in self.samples.items():
            row = {"n": len(xs), "p50": _median(xs),
                   "samples": [round(x, 1) for x in xs]}
            for p in (75, 90, 95, 99):
                if len(xs) * (1 - p / 100) >= 10:
                    row[f"p{p}"] = _percentile(xs, p)
            out[kind] = row
        return out

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            spark.stop()
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes; wait for it
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def execute(root: str, workload: str, seed: int, seconds: float,
            trace: bool) -> tuple[Run, str]:
    run = Run(root, workload, seed, seconds, trace)
    try:
        run.setup()
        if workload == "query":
            run.run_query()
        else:
            run.run_ingest()
        if trace:
            run.probe_tokenize()
            run.probe_overhead()
        run.finish()
        spans = ""
        if trace:
            spans = os.path.join(root, ".perfbench",
                                 f"spans-{workload}-seed{seed}.jsonl")
            run.tracer.write(spans)
    finally:
        run.close()
    return run, spans

