"""The benchmark workloads. Each times public entry points of ``ocr_lib_spark``
from outside, checks the outputs against the repo's oracles outside the
timed region, and returns end-to-end metrics (untraced) or per-layer
metrics (traced).
"""

from __future__ import annotations

import hashlib
import json
import importlib.util
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd

import inputs
import spans as tr

#: session restarts after the cold set-up; ``setup_s`` is their median
SETUP_RESTARTS = 2
#: executions of each rung of the traced extraction ladder; a rung's
#: wall is its fastest
LADDER_REPS = 2
#: buckets of the traced crash/resume cycle (the program default is 32;
#: each bucket costs about 1 s whatever its size, see README.md)
RESUME_BUCKETS = 4
#: every plans module, in ``build_registry`` order
PLAN_MODULES = ("extraction", "relational", "textops", "vectors", "curation",
                "agentops", "indexing")
#: battery passes; a query's wall is its fastest pass, so that neither
#: the first pass's warm-up nor a short slow spell of the host counts
BATTERY_PASSES = 2
#: queries with their own per-layer wall metric
NAMED_QUERIES = ("ivf_recall", "training_mix", "near_dup_clusters",
                 "dedup_cluster_census", "leakage_safe_split", "range_band_join",
                 "stratified_sample", "bbox_minmax", "top1_argmax", "token_packing")
#: the battery, in the order it runs: the named queries plus one cheap
#: headline query of each plans module the named ones miss. The order is
#: fixed: queries share JIT-compiled operators, so where a query sits
#: moves its wall by up to 2x, and a seeded order spread the battery
#: total over seeds by 8-13% against 3% for a fixed one.
BATTERY = ("conv_prefix_dedup", "near_dup_clusters", "bbox_minmax", "leakage_safe_split",
           "range_band_join", "doc_length_histogram", "ivf_recall", "dedup_cluster_census",
           "stratified_sample", "token_packing", "tool_call_bigrams", "top1_argmax",
           "training_mix")


def median(xs) -> float:
    return float(statistics.median(xs))


def load_file_module(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Run:
    """State of one benchmark run: paths, the Spark session and counters."""

    def __init__(self, root: Path, seed: int, seconds: float, traced: bool,
                 cores: int, sampler: tr.MemorySampler):
        self.root, self.seed, self.seconds, self.traced = root, seed, seconds, traced
        self.cores, self.sampler = cores, sampler
        self.work = root / ".bench_work"
        self.inputs = self.work / "inputs"
        self.out = self.work / "out"
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        #: per-sample values of the report's summaries, by metric name
        self.samples: dict[str, list | dict] = {}
        self.tracer = tr.Tracer(False)
        self.t0 = time.perf_counter()
        self.phases: dict[str, float] = {}

    def phase(self, name: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.phases[name] = round(time.perf_counter() - self.t0, 2)

    # --- bookkeeping ---------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok

    def op(self, fn, what: str):
        """Run one timed operation; an exception counts as a failed op."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # a failed op is reported, the run goes on
            self.failed += 1
            self.problems.append(f"{what}: {type(e).__name__}: {str(e)[:200]}")
            return None
        return time.perf_counter() - t0

    # --- sessions ------------------------------------------------------------
    def session(self, cores: int, event_log: Path | None = None) -> tuple[float, float]:
        """(Re)start the session at ``local[cores]`` and warm one Python
        worker per core; returns (start seconds, warm seconds)."""
        from ocr_lib_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        extra = {"spark.sql.warehouse.dir": str(self.work / "warehouse")}
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            extra |= {"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_log.as_uri(),
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false"}
        t0 = time.perf_counter()
        self.spark = get_spark(app="perfbench", cores=cores, extra=extra)
        t1 = time.perf_counter()
        self.spark.range(0, cores, 1, cores).mapInPandas(
            _identity, "id long").write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def setups(self) -> dict:
        """A cold set-up, whose JVM launch (11-14 s) would swamp the rest,
        then ``SETUP_RESTARTS`` session restarts in the live JVM at the
        workload's core count; ``setup_s`` is the median restart."""
        cold = sum(self.session(self.cores))
        starts, warms = zip(*(self.session(self.cores) for _ in range(SETUP_RESTARTS)))
        self.samples["setup_s"] = [s + w for s, w in zip(starts, warms)]
        return {"setup_s": median(self.samples["setup_s"]),
                "session.start_s": median(starts), "session.warm_s": median(warms),
                "session.cold_s": cold}

    def traced_session(self) -> Path:
        """Restart with the event log on and spans bound to this context."""
        log_dir = self.work / "eventlog" / self.tracer.trace_id
        shutil.rmtree(log_dir, ignore_errors=True)
        self.session(self.cores, event_log=log_dir)
        self.tracer = tr.Tracer(True, self.spark.sparkContext)
        return log_dir

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def timed_reps(self, fn, what: str, budget: float, min_reps: int, max_reps: int = 12):
        walls = []
        t_end = time.perf_counter() + budget
        while len(walls) < max_reps and (len(walls) < min_reps or time.perf_counter() < t_end):
            w = self.op(fn, what)
            if w is None:
                break
            walls.append(w)
        return walls


def _identity(batches):
    yield from batches


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# =============================================================================
# bulk_extract
# =============================================================================

def bulk_job(spark, src: Path, dst: Path, sink: str = "parquet", stop_at: str = "assemble",
             stage_acc=None):
    """The production batch path, or a rung of its ladder: scan ->
    identity crossing -> extract_turns -> assemble_conversations -> sink."""
    from ocr_lib_spark.pipeline import assemble_conversations, extract_turns

    df = spark.read.parquet(str(src))
    if stop_at == "scan":
        plan = df.select("conv_id", "turn_idx", "role", "text")
    elif stop_at == "crossing":
        plan = df.select("conv_id", "turn_idx", "role", "text").mapInPandas(
            _identity, "conv_id string, turn_idx int, role string, text string")
    elif stop_at == "extract":
        plan = extract_turns(df, stage_acc=stage_acc)
    else:
        plan = assemble_conversations(extract_turns(df, stage_acc=stage_acc))
    if sink == "noop":
        plan.write.format("noop").mode("overwrite").save()
    else:
        plan.write.mode("overwrite").parquet(str(dst))


def check_bulk(run: Run, corpus: Path, stats: dict, out4: Path) -> None:
    """A seeded sample of turns against ``tests/reference_oracle.py``, and
    the assembled output against the reference's per-turn texts."""
    from ocr_lib_spark.pipeline import extract_turns

    ref = load_file_module("reference_oracle", run.root / "tests" / "reference_oracle.py")
    sample = pd.read_parquet(corpus / "sample.parquet")
    got = extract_turns(run.spark.read.parquet(str(corpus / "sample.parquet"))).toPandas()
    got = got.set_index(["conv_id", "turn_idx"])
    for r in sample.itertuples(index=False):
        text, spans, nb, unk = ref.extract_one(r.text)
        key = (r.conv_id, r.turn_idx)
        ok = key in got.index
        if ok:
            g = got.loc[key]
            g_spans = [(s["start"], s["end"], s["label"]) for s in g["spans"]]
            ok = (g["extracted_text"] == text and g_spans == [tuple(s) for s in spans]
                  and int(g["n_blocks"]) == nb and list(g["unknown_blocks"]) == list(unk))
        run.check(ok, f"bulk_extract turn {key} differs from reference_oracle")

    out = pd.read_parquet(out4)
    run.check(len(out) == stats["conversations"] and int(out["n_turns"].sum()) == stats["turns"],
              "bulk_extract output row/turn counts differ from the corpus")
    full = pd.read_parquet(corpus / "full")
    rng = np.random.default_rng(run.seed + 2)
    ids = sorted(full["conv_id"].unique())
    convs = rng.choice(ids, min(8, len(ids)), replace=False)
    out = out.set_index("conv_id")
    for c in convs:
        turns = full[full["conv_id"] == c].sort_values("turn_idx")
        texts = [ref.extract_one(t)[0] for t in turns["text"]]
        want = "\n".join(t for t in texts if t != "")
        ok = c in out.index and out.loc[c, "conv_text"] == want and out.loc[c, "n_turns"] == len(turns)
        run.check(ok, f"bulk_extract conversation {c} differs from reference_oracle")


def bulk_extract(run: Run) -> dict:
    corpus, stats = inputs.bulk_corpus(run.inputs, run.seed)
    run.phase("inputs")
    m = run.setups()
    run.phase("setups")
    full, quarter, sample = corpus / "full", corpus / "quarter", corpus / "sample.parquet"
    out4, out1 = run.out / "bulk4", run.out / "bulk1"

    # warm-up (codegen, JIT, worker imports) on the full corpus: after
    # quarter-size warm-ups the first full-size job still ran 10-25% slower
    bulk_job(run.spark, full, out4)
    run.phase("warm-up")
    # a traced run keeps one rep and no 1-core leg, so that it ends well
    # within 180 s
    walls4 = run.timed_reps(lambda: bulk_job(run.spark, full, out4), "bulk job 4 cores",
                            0.0 if run.traced else 0.6 * run.seconds, 1 if run.traced else 3)
    run.samples["wall_s"] = walls4
    run.phase("4-core leg")
    walls1 = []
    if not run.traced:
        run.session(1)
        bulk_job(run.spark, sample, out1)  # warm-up of the new workers
        walls1 = run.timed_reps(lambda: bulk_job(run.spark, quarter, out1), "bulk job 1 core",
                                0.4 * run.seconds, 3)
        run.samples["wall_1core_s"] = walls1
        run.phase("1-core leg")
    check_bulk(run, corpus, stats, out4)
    run.phase("check")
    if run.traced and walls4:
        m |= bulk_traced(run, corpus)
        run.phase("traced ladder and resume")
    run.stop()
    m["_inputs"] = stats
    if walls4:
        m |= {"wall_s": median(walls4), "turns_per_s": stats["turns"] / median(walls4)}
    if walls4 and walls1:
        tps1 = stats["quarter"]["turns"] / median(walls1)
        m |= {
            "geomean_ms": 1000 * statistics.geometric_mean([median(walls4), median(walls1)]),
            "turns_per_s_1core": tps1,
            "scaling_eff_1to4": m["turns_per_s"] / (run.cores * tps1),
        }
    return m


def bulk_traced(run: Run, corpus: Path) -> dict:
    """One traced session: the extraction ladder, then a crash/resume
    cycle on the skewed corpus; then the in-process kernel. The tracing
    overhead is the ladder's parquet rung against the same job in an
    untraced session started after it in the same, as warm, JVM."""
    log_dir = run.traced_session()
    ladder = bulk_ladder(run, corpus)
    resume = resume_traced(run)
    run.session(run.cores)
    untraced = run.timed_reps(lambda: bulk_job(run.spark, corpus / "full", run.out / "bulk4"),
                              "bulk job 4 cores, untraced reference", 0.0, LADDER_REPS)
    run.stop()
    log = tr.EventLog(tr.find_event_log(log_dir))
    m = ladder_metrics(run, log, *ladder) | lineage_metrics(run, log, *resume)
    if untraced:
        m["trace.overhead_s"] = ladder[0]["sink"].seconds - min(untraced)
    roots = [s for s in run.tracer.spans if s.parent_id is None]
    m |= spark_totals(tr.job_stats(log, run.tracer, r) for r in roots)
    run.tracer.write(run.work / "traces" / f"bulk_extract-{run.seed}.jsonl")
    return m | kernel_metrics(corpus)


LADDER = (("scan", "scan", "noop"), ("crossing", "crossing", "noop"),
          ("extract", "extract", "noop"), ("assemble", "assemble", "noop"),
          ("sink", "assemble", "parquet"))


def bulk_ladder(run: Run, corpus: Path):
    """Traced extraction ladder: each rung is one action over a cumulative
    plan; a rung's self time is its wall minus the rung below."""
    from ocr_lib_spark.pipeline import extract_turns

    full, out = corpus / "full", run.out / "ladder"
    sc = run.spark.sparkContext
    acc = {k: sc.accumulator(0.0) for k in ("segment", "classify", "assemble")}
    bulk_job(run.spark, full, out)  # warm-up of the new session, as in bulk_extract
    rungs = {}
    with run.tracer.span("ladder"):
        for name, stop_at, sink in LADDER:
            reps = []
            for _ in range(LADDER_REPS):
                run.sampler.reset_worker_peak()
                with run.tracer.span(name) as s:
                    run.op(lambda: bulk_job(run.spark, full, out, sink=sink, stop_at=stop_at,
                                            stage_acc=acc if name == "extract" else None),
                           f"ladder rung {name}")
                s.attrs["worker_peak_rss_mb"] = run.sampler.worker_peak_mb
                reps.append(s)
            rungs[name] = min(reps, key=lambda s: s.seconds)
    extra = {
        "input_partitions": extract_turns(run.spark.read.parquet(str(full))).rdd.getNumPartitions(),
        "cpu_s": {k: a.value / LADDER_REPS for k, a in acc.items()},  # per execution
        "bytes_written": _dir_bytes(out),
    }
    return rungs, extra


def ladder_metrics(run: Run, log, rungs: dict, extra: dict) -> dict:
    st = {k: tr.job_stats(log, run.tracer, s) for k, s in rungs.items()}
    wall = {k: s.seconds for k, s in rungs.items()}
    order = [name for name, _, _ in LADDER]
    self_s = {"scan": wall["scan"]} | {hi: wall[hi] - wall[lo] for lo, hi in zip(order, order[1:])}
    durs = st["assemble"]["task_durations"]
    crossing_tasks = max(st["crossing"]["python_tasks"], 1)
    return {
        "scan.self_s": self_s["scan"],
        "scan.tasks": st["scan"]["tasks"],
        "crossing.self_s": self_s["crossing"],
        "crossing.python_tasks": st["crossing"]["python_tasks"],
        "crossing.ms_per_task": 1000 * self_s["crossing"] / crossing_tasks,
        "crossing.worker_peak_rss_mb": rungs["crossing"].attrs["worker_peak_rss_mb"],
        "extract_turns.self_s": self_s["extract"],
        "extract_turns.input_partitions": extra["input_partitions"],
        **{f"extract_turns.{k}_cpu_s": v for k, v in extra["cpu_s"].items()},
        "assemble.self_s": self_s["assemble"],
        "assemble.shuffle_write_bytes": st["assemble"]["shuffle_bytes"],
        "assemble.task_max_over_median": max(durs) / median(durs) if durs else 0.0,
        "sink.self_s": self_s["sink"],
        "sink.bytes_written": extra["bytes_written"],
    }


def kernel_metrics(corpus: Path) -> dict:
    """``extract_batch`` in-process, no Spark, on the corpus cut into
    Arrow-sized batches (32k rows, the session default)."""
    from ocr_lib_spark.operators.extract import extract_batch
    from ocr_lib_spark.operators.prototypes import taught_prototypes

    protos, labels, keep = taught_prototypes()
    pdf = pd.read_parquet(corpus / "full", columns=["text"])
    tm: dict = {}
    rows = uniq = 0
    t0 = time.perf_counter()
    for lo in range(0, len(pdf), 32000):
        batch = pdf["text"].iloc[lo: lo + 32000]
        extract_batch(batch, prototypes=protos, labels=labels, keep=keep, timings=tm)
        rows += len(batch)
        uniq += batch.nunique(dropna=False)
    wall = time.perf_counter() - t0
    return {
        "kernel.turns_per_s_1core": rows / wall,
        "kernel.segment_s": tm.get("segment", 0.0),
        "kernel.classify_s": tm.get("classify", 0.0),
        "kernel.assemble_s": tm.get("assemble", 0.0),
        "kernel.memo_hit_ratio": 1 - uniq / rows,
    }


def spark_totals(stats) -> dict:
    """Sum of ``job_stats`` over the traced root spans."""
    keys = ("jobs", "tasks", "driver_gap_s", "task_overhead_s")
    tot = dict.fromkeys(keys, 0.0)
    for st in stats:
        for k in keys:
            tot[k] += st[k]
    return {f"spark.{k}": v for k, v in tot.items()}


# --- crash and resume (traced bulk_extract runs only) ------------------------

def _order_free_hash(df) -> tuple[int, str]:
    """(rows, md5 of the sorted per-row xxhash64 values) over the
    extracted-turn columns."""
    from pyspark.sql import functions as F

    from ocr_lib_spark.pipeline import EXTRACTED_SCHEMA

    cols = [f.name for f in EXTRACTED_SCHEMA.fields]
    h = df.select(F.xxhash64(*cols).alias("h")).toPandas()["h"].to_numpy()
    return len(h), hashlib.md5(np.sort(h).tobytes()).hexdigest()


def resume_traced(run: Run):
    """Crash after half the default buckets, then resume on the same
    snapshot, each run in its own span; checks the outcome."""
    from ocr_lib_spark.pipeline import extract_turns
    from ocr_lib_spark.sources.lineage import (
        committed_buckets,
        parquet_snapshot_id,
        read_lineage,
        read_output,
        run_with_resume,
    )

    corpus, stats = inputs.skewed_corpus(run.inputs, run.seed)
    src, out, warm_out = corpus / "input", run.out / "resume", run.out / "resume_warm"
    snapshot = parquet_snapshot_id(str(src))
    buckets = RESUME_BUCKETS
    for d in (out, warm_out):
        shutil.rmtree(d, ignore_errors=True)
    warm = run.spark.read.parquet(str(src / "part-00000.parquet"))
    run_with_resume(warm, str(warm_out), n_buckets=1, input_snapshot_id="warm-up")
    df = run.spark.read.parquet(str(src))
    want = _order_free_hash(extract_turns(df))

    def crash():
        try:
            run_with_resume(df, str(out), n_buckets=buckets, input_snapshot_id=snapshot,
                            fail_after=buckets // 2)
        except RuntimeError as e:  # the injected crash is expected
            if "injected failure" in str(e):
                return
            raise
        raise AssertionError("the injected crash did not happen")

    with run.tracer.span("resume_cycle") as cycle:
        with run.tracer.span("crashed_run"):
            run.op(crash, "crashed run")
        with run.tracer.span("resumed_run") as resumed:
            run.op(lambda: resumed.attrs.setdefault("redone", run_with_resume(
                df, str(out), n_buckets=buckets, input_snapshot_id=snapshot)), "resumed run")
    redone = resumed.attrs.get("redone", 0)
    lineage = pd.DataFrame({"bucket": [], "status": [], "wall_ms": []})

    def checks():
        nonlocal lineage
        run.check(redone == buckets - buckets // 2,
                  f"resume redid {redone} buckets, expected {buckets - buckets // 2}")
        run.check(_order_free_hash(read_output(run.spark, str(out))) == want,
                  "resumed output differs from one-shot extract_turns")
        lineage = read_lineage(run.spark, str(out)).toPandas()
        run.check(sorted(lineage["bucket"]) == list(range(buckets))
                  and (lineage["status"] == "committed").all(),
                  "lineage does not hold one committed row per bucket")

    run.op(checks, "resume checks")
    t0 = time.perf_counter()
    committed_buckets(run.spark, str(out), snapshot)
    extra = {
        "committed_buckets_s": time.perf_counter() - t0,
        "bucket_wall_ms": lineage["wall_ms"],
        "write_amp": _dir_bytes(out) / _dir_bytes(src),
        "redone": redone, "uncommitted": buckets - buckets // 2,
        "inputs": stats,
    }
    return cycle, resumed, extra


def lineage_metrics(run: Run, log, cycle, resumed, extra: dict) -> dict:
    res = tr.job_stats(log, run.tracer, resumed)
    walls = extra["bucket_wall_ms"]
    return {
        "lineage.jobs_per_bucket": res["jobs"] / max(extra["redone"], 1),
        "lineage.driver_gap_s": res["driver_gap_s"],
        "lineage.bucket_wall_p50_ms": float(walls.median()),
        "lineage.bucket_wall_max_ms": float(walls.max()),
        "lineage.write_amp": extra["write_amp"],
        "lineage.redone_buckets": extra["redone"],
        "lineage.uncommitted_buckets": extra["uncommitted"],
        "lineage.committed_buckets_s": extra["committed_buckets_s"],
        # traced values, reported beside the lineage layer
        "resume_total_s": cycle.seconds,
        "resume_s": resumed.seconds,
        "_resume_inputs": extra["inputs"],
    }


# =============================================================================
# curation_battery
# =============================================================================

def plan_modules() -> dict[str, str]:
    import importlib

    return {q: mod for mod in PLAN_MODULES
            for q in importlib.import_module(f"ocr_lib_spark.plans.{mod}").QUERIES}


def clear_program_memos() -> None:
    """Empty the program's process-wide IVF codebook memo, so that every
    pass trains the codebook as the first one did."""
    from ocr_lib_spark.plans import vectors

    getattr(vectors, "_CODEBOOK_MEMO", {}).clear()


def battery_pass(run: Run, reg: dict, names: list[str], sf_dir: Path) -> dict:
    """Execute each query once; returns {name: (wall s, result frame)}."""
    clear_program_memos()
    out = {}
    for name in names:
        res = {}
        with run.tracer.span(f"query:{name}"):
            w = run.op(lambda: res.__setitem__("df", reg[name].fn(run.spark, str(sf_dir)).toPandas()),
                       f"query {name}")
        if w is not None:
            out[name] = (w, res["df"])
    return out


def oracle_digests(reg: dict, names, sf_dir: Path) -> dict:
    """{name: (rows, sorted columns, frame_hash)} of each query's DuckDB
    oracle over the tables, cached beside them keyed by the oracle SQL."""
    import duckdb

    from tools.check_correctness import TABLES, frame_hash

    cache_file = sf_dir / "oracle_digests.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    key = {n: hashlib.md5(reg[n].oracle.encode()).hexdigest() for n in names}
    missing = [n for n in names if cache.get(n, {}).get("sql_md5") != key[n]]
    if missing:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for n in missing:
                want = con.execute(reg[n].oracle).df()
                cache[n] = {"sql_md5": key[n], "digest": digest(want, frame_hash)}
        finally:
            con.close()
        cache_file.write_text(json.dumps(cache))
    return {n: cache[n]["digest"] for n in names}


def digest(df: pd.DataFrame, frame_hash) -> list:
    return [len(df), sorted(df.columns), frame_hash(df)]


def check_battery(run: Run, reg: dict, passes: list[dict], sf_dir: Path) -> None:
    from tools.check_correctness import frame_hash

    want = oracle_digests(reg, sorted({q for p in passes for q in p}), sf_dir)
    for results in passes:
        for name, (_, got) in results.items():
            run.check(digest(got, frame_hash) == want[name],
                      f"query {name} differs from its DuckDB oracle")


def curation_battery(run: Run) -> dict:
    from ocr_lib_spark.plans import build_registry

    sf_dir, stats = inputs.battery_tables(run.inputs)
    reg = build_registry()
    order = list(BATTERY)
    run.phase("inputs")
    m = run.setups()
    run.phase("setups")
    # the first pass also warms the JVM (codegen, JIT), so the second is
    # usually the faster one
    passes = []
    for _ in range(BATTERY_PASSES):
        passes.append(battery_pass(run, reg, order, sf_dir))
        run.phase(f"pass {len(passes)}")
    walls = {q: min(p[q][0] for p in passes) for q in order if all(q in p for p in passes)}
    run.samples["query_s"] = walls
    run.samples["pass_s"] = [sum(w for w, _ in p.values()) for p in passes]
    if run.traced:
        m |= battery_traced(run, reg, order, sf_dir, run.samples["pass_s"][-1])
        run.phase("traced pass")
    run.stop()
    check_battery(run, reg, passes, sf_dir)
    run.phase("check")
    if len(walls) < len(order):
        return m
    return m | {
        "wall_s": sum(walls.values()),
        "geomean_ms": 1000 * statistics.geometric_mean(list(walls.values())),
        "battery_s": sum(walls.values()),
        "battery_geomean_ms": 1000 * statistics.geometric_mean(list(walls.values())),
        "_inputs": stats,
    }


def battery_traced(run: Run, reg: dict, order: list[str], sf_dir: Path, untraced_s: float) -> dict:
    """A traced pass, each query once, in a session restarted with the
    event log on. Its total minus the last untraced pass's is the
    tracing overhead; both passes follow at least one full pass, so the
    JVM's JIT gain between them is small."""
    log_dir = run.traced_session()
    with run.tracer.span("battery") as root:
        battery_pass(run, reg, order, sf_dir)
    run.stop()
    log = tr.EventLog(tr.find_event_log(log_dir))
    spans = {s.name.split(":", 1)[1]: s for s in run.tracer.spans if s.name.startswith("query:")}
    mods = plan_modules()
    m = {}
    for mod in PLAN_MODULES:
        agg = {"s": 0.0, "jobs": 0, "tasks": 0, "shuffle_bytes": 0, "driver_gap_s": 0.0}
        for q, s in spans.items():
            if mods[q] != mod:
                continue
            st = tr.job_stats(log, run.tracer, s)
            agg["s"] += s.seconds
            for k in ("jobs", "tasks", "shuffle_bytes", "driver_gap_s"):
                agg[k] += st[k]
        m |= {f"plans.{mod}.{k}": v for k, v in agg.items()}
    m |= {f"query.{q}.s": spans[q].seconds for q in NAMED_QUERIES if q in spans}
    m |= spark_totals([tr.job_stats(log, run.tracer, root)])
    m["trace.overhead_s"] = sum(s.seconds for s in spans.values()) - untraced_s
    run.tracer.write(run.work / "traces" / f"curation_battery-{run.seed}.jsonl")
    return m


WORKLOADS = {
    "bulk_extract": bulk_extract,
    "curation_battery": curation_battery,
}
