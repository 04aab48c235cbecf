#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the JVM harness with sbt into `.bench_build/` (rebuilt whenever a
source changes), then every run:

1. generates the workload's inputs from the seed (`gen.py`);
2. runs the JVM harness (`perfbench.Harness`) on them against
   local[N], N = the number of CPUs, with N shuffle partitions;
3. checks the outputs against the generator's predictions (or, for the
   catalog keys, against `expected/catalog_keys.json`);
4. prints a summary line and, last, one JSON object with `correct`,
   `attempted`, `failed` and `metrics`: the end-to-end metrics with
   `--trace 0`, the per-layer metrics with `--trace 1`.

Workloads: `etl_curated` and `catalog_sweep` (README.md says why each).
A traced run of either walks both, then the `llm_ingest` stream phase
(streaming ingest of arrival batches against a corpus), so every
per-layer metric is in every traced result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

HARNESS_VERSION = "perfbench-2"
WORKLOADS = ("etl_curated", "catalog_sweep")
TRACED = WORKLOADS + ("llm_ingest",)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170

# generated input sizes
ETL_SALES_ROWS = 30000
LLM_DOCS, LLM_BATCHES, LLM_BATCH_DOCS = 500, 3, 40

# Shared-work (memo) groups, as graft.Bench's docstring lists them.
MEMO_GROUPS = {
    "neardup": ["q_minhash_neardup", "q_dedup_clusters", "q_dedup_apply"],
    "substr": ["q_substring_dup_spans", "q_substring_dedup_apply"],
    "event_graph": ["q_pagerank", "q_hits", "q_triangle_stats", "q_kcore",
                    "q_kcore_fixpoint", "q_label_propagation",
                    "q_reach_paths", "q_graph_degrees"],
    "containment": ["q_containment_join", "q_pagerank_docs"],
    "typo": ["q_typo_pairs", "q_typo_pair_stats"],
    "timeseries": ["q_seasonality", "q_acf", "q_ljung_box", "q_cusum",
                   "q_stl_decompose", "q_seasonal_anomalies",
                   "q_siegel_trend", "q_theil_sen"],
    "stl": ["q_stl_decompose", "q_seasonal_anomalies"],
    "gram": ["q_embed_gram", "q_pca_project"],
    "ivf": ["q_ann_ivf_topk", "q_ann_ivfpq_topk"],
    "bpe": ["q_bpe_merges", "q_bpe_encode", "q_sequence_pack_bpe"],
}
# ROADMAP target keys
TARGET_KEYS = ["q_dedup_clusters", "q_typo_pair_stats",
               "q_seasonal_anomalies", "q_quality_score", "q_bm25_topk"]
# The keys a sweep runs: the target keys, one member of each other memo
# group, and one key of each other module Catalog.all joins (but
# CuratedQuery, whose only key reads fixtures from a fixed path outside
# the data directory; etl_curated measures that module). No two keys
# share a session memo, so a key's time does not depend on whether a
# group partner ran before it in the seed's order. A sweep costs about
# 1 s a key on 4 cores, so the set is kept small.
CATALOG_KEYS = TARGET_KEYS + [
    "q_substring_dup_spans", "q_graph_degrees", "q_containment_join",
    "q_embed_gram", "q_ann_ivf_topk", "q_bpe_encode",
    "q_left_join", "q_window_running", "q_topk_agg", "q_asof_join",
    "q_range_join", "q_hilbert", "q_pii_redact", "q_hash_split",
    "q_pareto_share", "q_url_canon", "q_image_dims", "q_sessionize"]
MODULES = ["RelationalOps", "WindowOps", "TopK", "AsOfJoin", "RangeJoin",
           "ScaleOps", "TextOps", "Dedup", "Cleaning", "TrainingPrep",
           "TimeSeries", "RevenueOps", "Similarity", "GraphOps", "MiningOps",
           "WebOps", "Multimodal", "EventOps"]


# ------------------------------------------------------------------ build

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build():
    """Compile the library and the harness (sbt), once per source state;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout that holds the library "
             "sources (src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the local caches the toolchain ships with
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(p.stdout)
    lines = [ln.strip() for ln in p.stdout.splitlines()
             if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ------------------------------------------------------------ environment

def load_snapshot():
    """(load1, iowait, steal, total jiffies) from /proc/loadavg and the
    first line of /proc/stat, as graft.Bench.loadSnapshot reads them."""
    def read(p):
        try:
            with open(p) as f:
                return f.read()
        except OSError:
            return ""
    la = read("/proc/loadavg").split()
    load1 = float(la[0]) if la else 0.0
    cpu = []
    for line in read("/proc/stat").splitlines():
        if line.startswith("cpu "):
            cpu = [int(x) for x in line.split()[1:]]
            break
    iowait = cpu[4] if len(cpu) > 4 else 0
    steal = cpu[7] if len(cpu) > 7 else 0
    return load1, iowait, steal, sum(cpu)


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


# ------------------------------------------------------------- generation

def catalog_dir():
    """Cache directory of the catalog tables, keyed by the generator's
    source so an edited generator writes fresh tables."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h = hashlib.sha256(f.read()).hexdigest()[:16]
    return os.path.join(BUILD_DIR, f"catalog-{h}")


def generate(workloads, seed, data):
    """Write the inputs of `workloads` under data/<short name>; returns
    the generator summaries."""
    out = {}
    if "etl_curated" in workloads:
        out["etl"] = gen.adventureworks(os.path.join(data, "etl"), seed,
                                        n_sales=ETL_SALES_ROWS)
    if "catalog_sweep" in workloads:
        # fixed tables (the expectations are committed; the seed permutes
        # the key order instead), generated once per checkout and cached
        # with the harness's parquet conversion of them
        if not os.path.exists(os.path.join(catalog_dir(), "summary.json")):
            summary = gen.catalog_tables(catalog_dir())
            with open(os.path.join(catalog_dir(), "summary.json"), "w") as f:
                json.dump(summary, f)
        with open(os.path.join(catalog_dir(), "summary.json")) as f:
            out["catalog"] = json.load(f)
    if "llm_ingest" in workloads:
        out["llm"] = gen.corpus(os.path.join(data, "llm"), seed,
                                n_docs=LLM_DOCS, n_batches=LLM_BATCHES,
                                batch_docs=LLM_BATCH_DOCS)
    return out


# ----------------------------------------------------------------- checks

class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def op(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)


def load_expected_catalog():
    p = os.path.join(HERE, "expected", "catalog_keys.json")
    with open(p) as f:
        return json.load(f)


def check(raw, sizes, tally, expected_catalog):
    """One operation per timed sample, plus one failed operation per
    error the harness caught (warm-up calls included)."""
    obs = raw["observed"]
    for e in raw["errors"]:
        tally.op(False, f'{e["workload"]} {e["kind"]} {e["name"]} raised: '
                        f'{e["error"]}')
    for s in raw["samples"]:
        wl, kind, name = s["workload"], s["kind"], s["name"]
        if wl == "etl_curated":
            i = name[len("pass"):]
            want = sizes["etl"]["expected_curated_rows"]
            ok = (obs.get(f"{wl}.{kind}.curated_rows.{i}") == want
                  and obs.get(f"{wl}.{kind}.catalog_count.{i}") == want
                  and obs.get(f"{wl}.{kind}.schema_ok.{i}") is True)
            tally.op(ok, f"{wl} {kind} {name}: curated rows/count/schema")
        elif wl == "catalog_sweep":
            # (warm-up and untraced sweeps of a traced run record rows
            # only)
            exp = expected_catalog.get(name)
            ok = (exp is not None and s["rows"] == exp["rows"]
                  and ("digest" not in s or (s["digest_rows"] == exp["rows"]
                                             and s["digest"] == exp["digest"])))
            tally.op(ok, f"{wl} {kind} {name}: rows {s['rows']} digest "
                         f"{s.get('digest')} expected {exp}")
        else:
            # each micro-batch keeps exactly its novel half
            b = int(name[len("batch"):])
            got = obs.get(f"{wl}.{kind}.survivors", [])
            want = sizes["llm"]["expected_batch_survivors"][b]
            have = got[b] if b < len(got) else None
            tally.op(have == want, f"{wl} {kind} {name}: survivors {have} "
                                   f"expected {want}")


# ---------------------------------------------------------------- metrics

def e2e_metrics(workload, raw, sizes, setup_s):
    """End-to-end metrics (every workload reports every one):
    throughput_per_s is the workload's headline rate and op_cpu_s the
    JVM's CPU seconds per unit operation (README.md has the mapping)."""
    samp = [s for s in raw["samples"] if s["workload"] == workload]
    extra = {}
    if workload == "etl_curated":
        done = [s for s in samp if s["kind"] == "pass"]
        passes = [s["seconds"] for s in done]
        med = stats.median(passes)
        extra["etl_rows_per_s"] = stats.ratio(sizes["etl"]["sales_rows"], med)
        ops, rate = passes, extra["etl_rows_per_s"]
        cpu = stats.median([s["cpu_s"] for s in done])
    else:
        keys = [s for s in samp if s["kind"] == "key"]
        sweeps = {}
        for s in keys:
            sweeps.setdefault(s["sweep"], []).append(s)
        total = stats.median([sum(s["seconds"] for s in v)
                              for v in sweeps.values()])
        cpu = stats.median([sum(s["cpu_s"] for s in v) / len(v)
                            for v in sweeps.values()])
        per_key = {}
        for s in keys:
            per_key.setdefault(s["name"], []).append(s["seconds"])
        # one sample per key (its median over the sweeps), so every run
        # ranks the same population whatever its sweep count
        ops = [stats.median(v) for v in per_key.values()]
        extra["catalog_total_s"] = total
        extra["query_p50_s"] = stats.median(ops)
        extra["query_p95_s"], extra["query_p95_rank"] = \
            stats.tail_percentile(ops)
        extra["per_key_s"] = {k: stats.median(v) for k, v in per_key.items()}
        extra["sweeps"] = len(sweeps)
        rate = stats.ratio(len(per_key), total)
    metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (rate, "1/s"),
        "op_cpu_s": (cpu, "s"),
        "peak_mem_mb": (max(raw["after_gc_bytes"] or [0]) / 2**20, "MB"),
    }
    extra["peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    extra["after_gc_mb"] = [b / 2**20 for b in raw["after_gc_bytes"]]
    extra["op_p50_s"] = stats.median(ops)
    extra["ops"] = len(ops)
    return metrics, extra


class Layers:
    """Per-layer metrics of a traced run, computed from its spans and
    listener events."""

    def __init__(self, raw):
        td = raw["trace_data"]
        self.raw, self.obs, self.spans = raw, raw["observed"], td["spans"]
        self.td = td
        self.m = {}

    def counters(self, span):
        td = self.td
        return stats.span_counters(span, td["tasks"], td["jobs"],
                                   td["stages"], td["plans"])

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def dur(self, name):
        return sum(s["dur_s"] for s in self.named(name))

    def overhead_pct(self, workload):
        """Traced against untraced time of the same operations."""
        samp = [s for s in self.raw["samples"] if s["workload"] == workload]
        u = sum(s["seconds"] for s in samp if s["kind"] == "untraced")
        t = sum(s["seconds"] for s in samp if s["kind"] == "traced")
        return 100.0 * stats.ratio(t - u, u)

    def etl(self):
        """The traced pass's public calls, and the SQL executions inside
        CuratedQuery.runPipeline split by the file that ran them."""
        m = self.m
        for fn in ["CuratedQuery.runPipeline", "Serving.saveCatalogTable",
                   "Serving.catalogCount"]:
            m[f"engine.{fn}_s"] = (self.dur(f"engine.{fn}"), "s")
        by_file = {}
        for s in self.named("engine.CuratedQuery.runPipeline"):
            ms = stats.exec_ms_by_file(self.td["execs"], s)
            # DataFrame building and analysis: the pipeline's time
            # outside any SQL execution
            ms["-"] = s["end_ms"] - s["start_ms"] - ms.get("*", 0)
            for f, v in ms.items():
                by_file[f] = by_file.get(f, 0) + v
        m["engine.CsvToParquet.run_s"] = (
            by_file.get("CsvToParquet.scala", 0) / 1e3, "s")
        m["engine.CuratedQuery.write_s"] = (
            by_file.get("CuratedQuery.scala", 0) / 1e3, "s")
        m["engine.CuratedQuery.transform_s"] = (by_file.get("-", 0) / 1e3, "s")
        m["engine.CsvToParquet.bytes_written"] = (
            self.obs.get("etl_curated.traced.parquet_bytes", 0), "bytes")
        passes = [self.counters(s) for s in self.named("pass")]
        for k, u in [("driver_s", "s"), ("task_cpu_s", "s"),
                     ("jobs", "count")]:
            m[f"etl.{k}"] = (stats.median([c[k] for c in passes]), u)
        m["etl.trace_overhead_pct"] = (self.overhead_pct("etl_curated"), "%")

    def catalog(self):
        m = self.m
        keys = self.named("key")
        per = {s["op"]: self.counters(s) for s in keys}
        secs = {s["op"]: s["dur_s"] for s in keys}
        modules = self.obs.get("catalog_sweep.modules", {})
        for mod in MODULES:
            m[f"catalog.{mod}_s"] = (sum(
                v for k, v in secs.items() if modules.get(k) == mod), "s")
        units = {"plan_s": "s", "codegen_compiles": "count",
                 "codegen_compile_s": "s", "jobs": "count",
                 "stages": "count", "tasks": "count", "driver_s": "s",
                 "task_cpu_s": "s", "task_run_s": "s", "gc_s": "s",
                 "shuffle_write_bytes": "bytes",
                 "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
                 "input_bytes": "bytes"}
        for k, u in units.items():
            m[f"catalog.{k}"] = (sum(c[k] for c in per.values()), u)
        for g, members in MEMO_GROUPS.items():
            m[f"catalog.memo.{g}_s"] = (
                sum(secs.get(k, 0.0) for k in members), "s")
        for k in TARGET_KEYS:
            c = per.get(k, {})
            m[f"key.{k}_s"] = (secs.get(k, 0.0), "s")
            m[f"key.{k}.jobs"] = (c.get("jobs", 0), "count")
            m[f"key.{k}.codegen_compile_s"] = (
                c.get("codegen_compile_s", 0.0), "s")
        m["catalog.trace_overhead_pct"] = (
            self.overhead_pct("catalog_sweep"), "%")

    def llm(self):
        """Stream phase: batch seconds, StreamingQueryProgress and the
        Spark counters of the batches (medians over the batches after
        the first, which pays the one-time LSH pass over the corpus)."""
        m = self.m
        batches = self.named("batch")
        m["ingest.first_batch_s"] = (
            batches[0]["dur_s"] if batches else 0.0, "s")
        m["ingest.batch_s"] = (stats.median(
            [s["dur_s"] for s in batches[1:]]), "s")
        prog = sorted((p for p in self.td["progress"] if p["input_rows"] > 0),
                      key=lambda p: p["batch_id"])
        rest = prog[1:] or prog
        for k in ["addBatch", "queryPlanning", "walCommit", "latestOffset"]:
            m[f"ingest.{k}_s"] = (stats.median(
                [p["duration_ms"].get(k, 0) / 1e3 for p in rest]), "s")
        last = prog[-1] if prog else {}
        m["ingest.state_rows_total"] = (last.get("state_rows_total", 0),
                                        "count")
        m["ingest.state_memory_bytes"] = (
            last.get("state_memory_bytes", 0), "bytes")
        m["ingest.rows_dropped_by_watermark"] = (
            sum(p["rows_dropped_by_watermark"] for p in prog), "count")
        rest = [self.counters(s) for s in batches[1:]]
        for k, u in [("driver_s", "s"), ("task_cpu_s", "s"),
                     ("jobs", "count"), ("codegen_compile_s", "s")]:
            m[f"ingest.{k}"] = (stats.median([c[k] for c in rest]), u)


def layer_metrics(raw, workloads):
    layers = Layers(raw)
    for w in workloads:
        {"etl_curated": layers.etl, "catalog_sweep": layers.catalog,
         "llm_ingest": layers.llm}[w]()
    return layers.m


# ------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write the swept keys' observed row counts and "
                         "digests to expected/catalog_keys.json")
    a = ap.parse_args(argv)

    load0 = load_snapshot()
    cp = build()
    cores = os.cpu_count() or 1
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD_DIR, "runs", tag)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    workloads = TRACED if a.trace else (a.workload,)
    try:
        # set-up: generation (three times, median) + the JVM's session
        # start, input conversion and warm-up
        gen_times = []
        for _ in range(3):
            t0 = time.perf_counter()
            sizes = generate(workloads, a.seed, data)
            gen_times.append(time.perf_counter() - t0)
        out = os.path.join(run_dir, "raw.json")
        # no -Xms: the heap starts small, so collections are frequent
        # and the memory in use after them is sampled densely
        cmd = (["java", "-Xmx2g", "-XX:+UseG1GC",
                # digests render dates and timestamps in the JVM's zone
                "-Duser.timezone=UTC",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-Dlog4j2.configurationFile="
                + os.path.join(HERE, "log4j2.properties")]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Harness",
                  "--workload", ",".join(workloads),
                  "--data", data, "--catalog-dir", catalog_dir(),
                  "--work", work, "--out", out,
                  "--seconds", str(a.seconds), "--seed", str(a.seed),
                  "--trace", str(a.trace), "--cores", str(cores),
                  "--keys", ",".join(CATALOG_KEYS)])
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as lf:
            try:
                p = subprocess.run(cmd, cwd=ROOT, stdout=lf,
                                   stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL,
                                   timeout=JVM_TIMEOUT_S)
                rc = p.returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log, errors="replace") as lf:
                tail = lf.read()[-3000:]
            fail(f"harness exited with {rc}; log tail:\n{tail}")
        with open(out) as f:
            raw = json.load(f)
        load1 = load_snapshot()

        if a.record_expected:
            path = os.path.join(HERE, "expected", "catalog_keys.json")
            digests = {}
            for smp in raw["samples"]:
                if smp["workload"] == "catalog_sweep" and "digest" in smp:
                    digests[smp["name"]] = {"rows": smp["digest_rows"],
                                            "digest": smp["digest"]}
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(digests, f, indent=1, sort_keys=True)
                f.write("\n")
        expected_catalog = (load_expected_catalog()
                            if "catalog_sweep" in workloads else {})

        tally = Tally()
        check(raw, sizes, tally, expected_catalog)
        setup = raw["setup"]
        # (the catalog tables' parquet conversion is cached per checkout:
        # in the result file, not in set-up time)
        setup_s = stats.median(gen_times) + sum(
            v for k, v in setup.items() if not k.endswith("cache_convert_s"))
        if a.trace:
            metrics = layer_metrics(raw, workloads)
            spans = raw["trace_data"]["spans"]
            own = stats.self_ms(spans)
            extra = {"spans": [dict(name=s["name"], op=s["op"],
                                    dur_s=s["dur_s"], self_s=own[s["id"]] / 1e3)
                               for s in spans]}
        else:
            metrics, extra = e2e_metrics(a.workload, raw, sizes, setup_s)
        jiffies = max(1, load1[3] - load0[3])
        result = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "harness": HARNESS_VERSION, "commit": git_commit(),
            "env": dict(raw["env"], nproc=cores, load1_start=load0[0],
                        load1_end=load1[0],
                        iowait_pct=100.0 * (load1[1] - load0[1]) / jiffies,
                        steal_pct=100.0 * (load1[2] - load0[2]) / jiffies),
            "inputs": sizes, "setup": dict(setup, generate_s=gen_times),
            "failed_frac": tally.failed / max(1, tally.attempted),
            "problems": tally.problems, "errors": raw["errors"],
            "workload_metrics": extra,
        }
        results_dir = os.path.join(BUILD_DIR, "results")
        os.makedirs(results_dir, exist_ok=True)
        res_path = os.path.join(results_dir, f"{tag}.json")
        with open(res_path, "w") as f:
            json.dump(dict(result, metrics={k: v[0] for k, v in metrics.items()}),
                      f, indent=1, sort_keys=True)
        print(json.dumps({"result_file": os.path.relpath(res_path, ROOT),
                          **{k: result[k] for k in
                             ("harness", "env", "failed_frac", "problems")}},
                         sort_keys=True))
        print(json.dumps({
            "correct": tally.failed == 0,
            "attempted": max(1, tally.attempted),
            "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
