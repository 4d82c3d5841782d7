"""One benchmark run, in one process with one Spark session (``local[4]``).

Started by ``run.py``, which owns the time limit, the per-run scratch
directory and the environment (``PYTHONPATH``, ``TMPDIR``,
``SPARKTAX_LOCAL_DIR``). Phases of an untraced run:

1. set-up (``setup_s``): Spark session start, generation of the
   workload's corpus and its planted answers (numpy, no Spark job); after
   the build, loading the built graph for the read phase: edges to pandas,
   the expected answer of every pooled query, the sink plan check, and
   one untimed pass over every pooled query;
2. build (``build_s``): one ``run_pipeline(taxonomy=True)`` on a fresh
   workdir — the session's first Spark jobs, as a
   ``python -m sparktax.pipeline`` user runs them — then checked against
   the planted answers;
3. read (``query_p50_ms``, ``queries_per_s``): the seeded query mix in a
   closed loop, one client, for ``--seconds`` in all, over the graph the
   build wrote; each result forced through the full sink (:mod:`sinks`)
   and compared with the pandas recomputation (:mod:`queries`);
4. expressive (``expressive_s``): the median of ``ROUNDS``
   ``ExpressiveExtractor.run`` calls with ``instrument=False``
   (instrumenting adds a job per wave).

Phases 3 and 4 take turns in ``ROUNDS`` rounds, so each is sampled over
the whole second half of the run.

A traced run (``--trace 1``) makes the same build with spans around
sparktax's public calls (:mod:`spans`), then a resume of it, then the
traced read and expressive phases, and prints the per-layer metrics
instead of the end-to-end ones. Its tracing overhead is the tracer's own
bookkeeping time inside the build span, measured directly: a traced
minus untraced build difference is buried in build-to-build noise.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import statistics
import sys
import time
import traceback

CORES = 4
PARTITIONS = 8  # corpus files, one per shuffle partition of get_spark
EXPRESSIVE = {"max_waves": 1, "min_size": 10}
ROUNDS = 3  # query bursts and expressive calls (~3 s each) in the read phase

WORKLOADS = {
    # same turn count, so the same raw-triple count, on both corpora; only
    # the entity count differs (~2.6k vs 58)
    "build-wide": {"corpus": "wide", "turns": 8000},
    "build-narrow": {"corpus": "narrow", "turns": 8000},
}

STAGES = (
    "10_raw_triples", "20_triples", "21_entities", "22_relations",
    "30_canonical_map", "40_edges", "41_nodes", "50_type_vectors",
    "50_choice", "52_classes", "51_dataset", "60_taxonomy",
)
LAYER_STAGES = {
    "extract.stage_s": ("10_raw_triples",),
    "graph.encode_s": ("20_triples", "21_entities", "22_relations"),
    "link.canonical_map_s": ("30_canonical_map",),
    "link.rewrite_s": ("40_edges", "41_nodes"),
    "typevec.stage_s": ("50_type_vectors",),
    "dataset.stage_s": ("50_choice", "52_classes", "51_dataset"),
}


def log(*a) -> None:
    print("perfbench:", *a, file=sys.stderr, flush=True)


def box_snapshot(scratch: str) -> dict:
    """The repo bench's box probes, with the disk probe kept inside the
    run's scratch directory and shortened to 32 MB."""
    import bench

    probe = bench._disk_write_mbps
    bench._disk_write_mbps = functools.partial(probe, size_mb=32, path=scratch)
    try:
        box = bench.box_probes()
    finally:
        bench._disk_write_mbps = probe
    box["nproc"] = os.cpu_count()
    return box


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


class Memory:
    """High-water marks (VmHWM) of the driver JVM and every Python worker
    it forked, sampled at phase ends; a worker that exits keeps the last
    mark seen."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.hwm: dict[int, int] = {}

    def sample(self) -> None:
        for pid in [self.jvm, *_descendants(self.jvm)]:
            self.hwm[pid] = max(self.hwm.get(pid, 0), _hwm_kb(pid))

    def jvm_mb(self) -> float:
        return self.hwm.get(self.jvm, 0) / 1024

    def total_mb(self) -> float:
        return sum(self.hwm.values()) / 1024


def jvm_times(spark) -> dict:
    """Cumulative GC and JIT-compile seconds of the driver JVM (JIT
    compile threads compete with the four task threads for the cores)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_s": gc / 1e3, "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


class Run:
    def __init__(self, args):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.tracer = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)
        log("FAILED", what)

    def op(self, what: str, fn):
        """Run one attempted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — counted, reported, run goes on
            traceback.print_exc()
            self.fail(what)
            return None

    def path(self, *parts) -> str:
        return os.path.join(self.args.scratch, *parts)

    def read(self, wd: str, stage: str):
        return self.spark.read.parquet(f"{wd}/{stage}/data")

    def span(self, name: str):
        """A span while spans are recorded (inside ``instrumented``)."""
        if self.tracer and self.tracer.active:
            return self.tracer.span(name)
        return contextlib.nullcontext()

    # ---------------------------------------------------------- set-up
    def start_session(self) -> float:
        from sparktax.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app=f"perfbench-{self.args.workload}",
            cores=CORES,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def generate(self):
        """Write the workload's corpus; returns (transcripts, planted answers)."""
        import corpus

        planted = corpus.write(
            self.cfg["corpus"], self.cfg["turns"], self.args.seed, self.path("corpus"), PARTITIONS)
        want = {
            "statements": len(planted),
            "digest": corpus.digest(planted),
            "surfaces": len(set(planted.subj) | set(planted.obj)),
        }
        return self.spark.read.parquet(self.path("corpus")), want

    # ---------------------------------------------------------- build
    def build(self, transcripts, wd: str) -> float:
        from sparktax.pipeline import run_pipeline

        t0 = time.perf_counter()
        run_pipeline(self.spark, transcripts, wd, taxonomy=True)
        return time.perf_counter() - t0

    def check_build(self, wd: str, want: dict) -> None:
        import corpus
        from pyspark.sql import functions as F

        raw = self.read(wd, "10_raw_triples").select("subj", "pred", "obj").toPandas()
        if len(raw) != want["statements"] or corpus.digest(raw) != want["digest"]:
            self.fail(f"10_raw_triples: {len(raw)} rows / digest {corpus.digest(raw)}, "
                      f"planted {want['statements']} / {want['digest']}")
        nodes = self.read(wd, "41_nodes").count()
        if nodes != want["surfaces"]:
            self.fail(f"41_nodes: {nodes} nodes, planted {want['surfaces']} surfaces")
        names = self.read(wd, "52_classes").select(F.col("class_name").alias("n"))
        taxo = self.read(wd, "60_taxonomy")
        ends = taxo.select(F.col("child").alias("n")).union(taxo.select(F.col("parent").alias("n")))
        stray = ends.join(names, "n", "left_anti").count()
        if stray:
            self.fail(f"60_taxonomy: {stray} edge ends name no class in 52_classes")

    # ---------------------------------------------------------- read
    def prepare_reads(self, wd: str) -> dict:
        """The built graph, the query pools and every pooled query's
        expected answer, plus the check that no sink lets Catalyst prune."""
        import queries
        import sinks
        from pyspark.sql import functions as F
        from sparktax.graph.kg import KnowledgeGraph

        relations = self.read(wd, "22_relations")
        kg = KnowledgeGraph(
            self.read(wd, "40_edges"), self.read(wd, "41_nodes"), relations, isa_uri="is_a"
        ).with_valid_types()
        edges = kg.triples.toPandas()
        isa = relations.filter(F.col("uri") == "is_a").collect()[0]["id"]
        pools = queries.pools(edges, isa, self.args.seed)
        for op, arg_list in pools.items():
            if not sinks.keeps_every_column(queries.call(kg, op, arg_list[0])):
                self.fail(f"sink of {op} lets the optimizer prune output")
        want = queries.expected_digests(self.spark, edges, isa, pools)
        reads = {"kg": kg, "want": want, "stream": queries.mix(pools, self.args.seed)}
        # untimed: every pooled query once, so each plan's generated code
        # is compiled before the timed loop, whatever order the mix takes
        for op, arg_list in pools.items():
            for args in arg_list:
                self.query(reads, op, args)
        return reads

    def query(self, reads: dict, op: str, args: tuple) -> float:
        """One query forced through the full sink and checked; returns
        its latency."""
        import queries
        import sinks

        t0 = time.perf_counter()
        with self.span(f"query.{op}"):
            got = self.op(f"query {op}{args}", lambda: sinks.sink(queries.call(reads["kg"], op, args)))
        dt = time.perf_counter() - t0
        if got is not None and got != reads["want"][(op, args)]:
            self.fail(f"query {op}{args}: got {got}, pandas says {reads['want'][(op, args)]}")
        return dt

    def query_loop(self, reads: dict, seconds: float) -> dict:
        """The closed loop, one client, for ``seconds`` and at least one
        query per op."""
        import queries

        lat: dict[str, list[float]] = {op: [] for op in queries.OPS}
        t_start = time.perf_counter()
        n = 0
        while n < len(queries.OPS) or time.perf_counter() - t_start < seconds:
            n += 1
            op, args = next(reads["stream"])
            lat[op].append(self.query(reads, op, args))
        return {"lat": lat, "wall": time.perf_counter() - t_start}

    # ---------------------------------------------------------- expressive
    def expressive(self, kg, wd: str):
        from sparktax.expressive import ExpressiveExtractor, ExpressiveParams

        tv = self.read(wd, "50_type_vectors")
        ex = ExpressiveExtractor(kg, tv, ExpressiveParams(**EXPRESSIVE))
        ex.instrument = self.tracer is not None
        t0 = time.perf_counter()
        taxonomy = self.op("expressive run", ex.run)
        dt = time.perf_counter() - t0
        if taxonomy is not None and not taxonomy:
            self.fail("expressive run found no taxonomy edge")
        return dt, ex.wave_log


def op_p50_ms(lat: dict[str, list[float]]) -> float:
    """Geometric mean over the query ops of each op's median latency.
    The ops' latencies form separate clusters, so one median over the
    pooled mix jumps between clusters from run to run."""
    return statistics.geometric_mean(statistics.median(xs) for xs in lat.values()) * 1e3


def end_to_end(run: Run, setup_s, build_s, reads, expressive_s, mem) -> dict:
    n = sum(len(xs) for xs in reads["lat"].values())
    m = {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "turns_per_s": (run.cfg["turns"] / build_s, "1/s"),
        "query_p50_ms": (op_p50_ms(reads["lat"]), "ms"),
        "queries_per_s": (n / reads["wall"], "1/s"),
        "expressive_s": (expressive_s, "s"),
        "peak_rss_mb": (mem.total_mb(), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(run: Run, wd: str, t: dict, reads, waves, mem) -> dict:
    """``t``: session_s, resume_s and the traced build's span."""
    tr, cold = run.tracer, t["cold"]
    stage = {s["name"][len("stage:"):]: s for s in tr.spans
             if s["parent"] == cold["id"] and s["name"].startswith("stage:")}
    man = {}
    for name in STAGES:
        with open(os.path.join(wd, name, "_manifest.json")) as f:
            man[name] = json.load(f)
    span_s = {n: stage[n]["dur_s"] for n in STAGES}
    taxo = [s for s in tr.named("extraction.extract_taxonomy")
            if s["parent"] == stage["60_taxonomy"]["id"]]
    entities = man["21_entities"]["rows"]
    merged = run.read(wd, "30_canonical_map").filter("id != canonical_id").count()
    m = {"session.start_s": (t["session_s"], "s")}
    for metric, names in LAYER_STAGES.items():
        m[metric] = (sum(span_s[n] for n in names), "s")
    m.update({
        "extract.triples": (man["10_raw_triples"]["rows"], "count"),
        "graph.entities": (entities, "count"),
        "graph.edges": (man["40_edges"]["rows"], "count"),
        "link.merged_frac": (merged / entities, "ratio"),
        "dataset.rows": (man["51_dataset"]["rows"], "count"),
        "extraction.taxonomy_s": (sum(s["dur_s"] for s in taxo), "s"),
        "extraction.edges": (man["60_taxonomy"]["rows"], "count"),
        "ckpt.write_s": (sum(man[n]["wall_sec"] for n in STAGES), "s"),
        "ckpt.bookkeeping_s": (
            sum(stage[n]["dur_s"] - man[n]["wall_sec"] - stage[n]["children_s"] for n in STAGES),
            "s",
        ),
        "ckpt.driver_gap_s": (cold["dur_s"] - sum(span_s.values()), "s"),
        "ckpt.bytes_per_triple": (
            sum(man[n]["bytes"] for n in STAGES) / man["10_raw_triples"]["rows"], "B/triple"),
        "ckpt.resume_s": (t["resume_s"], "s"),
        "trace.build_s": (cold["dur_s"], "s"),
        "trace.overhead_s": (cold["inner_cost_s"], "s"),
        "jvm.jit_s": (t["jvm"][1]["jit_s"] - t["jvm"][0]["jit_s"], "s"),
        "jvm.gc_s": (t["jvm"][1]["gc_s"] - t["jvm"][0]["gc_s"], "s"),
        "spark.jobs_total": (tr.jobs(cold), "count"),
    })
    for n in STAGES:
        m[f"spark.jobs.{n}"] = (tr.jobs(stage[n]), "count")
    for op, xs in reads["lat"].items():
        m[f"query.{op}.p50_ms"] = (statistics.median(xs) * 1e3, "ms")
    tasks = sum(w["frontier"] for w in waves)
    m.update({
        "expressive.tasks": (tasks, "count"),
        "expressive.wave_s": (statistics.median(w["wall_sec"] for w in waves) if waves else 0.0, "s"),
        "expressive.sample_s": (sum(w["sample_sec"] for w in waves), "s"),
        "expressive.atom_rows": (sum(w.get("atom_rows", 0) for w in waves), "count"),
        "expressive.prefetch_hit_frac": (
            sum(w["prefetch_hits"] for w in waves) / max(tasks, 1), "ratio"),
        "rss.jvm_mb": (mem.jvm_mb(), "MB"),
        "failed_frac": (run.failed / max(run.attempted, 1), "ratio"),
    })
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--record", required=True, help="JSON file for the run record")
    args = ap.parse_args()

    run = Run(args)
    box = box_snapshot(args.scratch)
    t0 = time.perf_counter()
    session_s = run.start_session()
    spark = run.spark
    box.update(
        spark_version=spark.version,
        spark_local_dir=spark.sparkContext.getConf().get("spark.local.dir", "/tmp"),
        master=spark.sparkContext.master,
    )
    log("box", json.dumps(box))
    mem = Memory(spark.sparkContext._gateway.proc.pid)
    transcripts, want = run.generate()
    setup_s = time.perf_counter() - t0
    wd = run.path("wd")

    if args.trace:
        from spans import Tracer, instrumented

        run.tracer = Tracer(spark.sparkContext)
        t = {"session_s": session_s, "jvm": [jvm_times(spark)]}
        with instrumented(run.tracer):
            with run.span("build.cold") as t["cold"]:
                if run.op("build", lambda: run.build(transcripts, wd)) is None:
                    return 1
        t["jvm"].append(jvm_times(spark))
        run.check_build(wd, want)
        with instrumented(run.tracer):
            with run.span("build.resume"):
                t["resume_s"] = run.build(transcripts, wd)  # every stage resumes
        mem.sample()
        reads = run.prepare_reads(wd)
        with instrumented(run.tracer):
            lat = run.query_loop(reads, args.seconds)
            mem.sample()
            _, waves = run.expressive(reads["kg"], wd)
        mem.sample()
        metrics = per_layer(run, wd, t, lat, waves, mem)
        jvm, expressive = t["jvm"], []
    else:
        jvm = [jvm_times(spark)]  # at phase ends, for the run record
        build_s = run.op("build", lambda: run.build(transcripts, wd))
        if build_s is None:
            return 1
        jvm.append(jvm_times(spark))
        mem.sample()
        run.check_build(wd, want)
        t0 = time.perf_counter()
        reads = run.prepare_reads(wd)
        setup_s += time.perf_counter() - t0
        # query bursts and expressive calls take turns, so both phases
        # sample the whole second half of the run, not one stretch of it
        lat = {"lat": {}, "wall": 0.0}
        expressive = []
        for _ in range(ROUNDS):
            burst = run.query_loop(reads, args.seconds / ROUNDS)
            for op, xs in burst["lat"].items():
                lat["lat"].setdefault(op, []).extend(xs)
            lat["wall"] += burst["wall"]
            expressive.append(run.expressive(reads["kg"], wd)[0])
            jvm.append(jvm_times(spark))
            mem.sample()
        metrics = end_to_end(run, setup_s, build_s, lat, statistics.median(expressive), mem)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "box": box, "notes": run.notes, "metrics": metrics,
        "query_latency_s": lat["lat"], "expressive_s": expressive, "jvm": jvm,
        "spans": run.tracer.report() if run.tracer else [],
    }
    with open(args.record, "w") as f:
        json.dump(record, f, indent=1)
    if run.tracer:
        log("span self times (s), pipeline and expressive:")
        for s in record["spans"]:
            if not s["name"].startswith(("query.", "kg.")):
                log(f"  {s['name']:<34} self {s['self_s']:8.3f}  total {s['dur_s']:8.3f}  jobs {s['jobs']}")
    spark.stop()
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
