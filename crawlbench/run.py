"""Crawl benchmark: one workload, one seed, end-to-end or traced metrics.

    python3 crawlbench/run.py --workload broadcast-wide --seed 1 --seconds 5 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` a separately traced run
gives the per-layer ones (spans around the engine's public calls, Spark's
event log, kernel ceilings and, where the workload asks for it, a
single-core reference pass). Every run checks the crawl output; a failed
check makes the exit code non-zero, and ``failed / attempted`` is the
error rate. Scratch files, the untraced runs' history (the traced run's
overhead baseline), and the traced runs' span dumps and per-round tables
go to ``.crawlbench/`` under the repository root.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SCRATCH = os.path.join(ROOT, ".crawlbench")
SETUP_BUILDS = 3

RUN_ROUND = "crawl.round.run_round"
RUN_CRAWL = "crawl.driver.run_crawl"


def _spark_conf(work: str, event_dir: str | None) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then wait for the driver JVM and the Python
    workers it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when this pipe closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in spawned:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _jvm_hwm_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class _Tee(io.TextIOBase):
    """stderr that also keeps what was written (the driver's phase timer)."""

    def __init__(self, inner) -> None:
        self.inner, self.text = inner, []

    def write(self, s: str) -> int:
        self.text.append(s)
        return self.inner.write(s)

    def flush(self) -> None:
        self.inner.flush()


def _install(tracer, traced: bool) -> None:
    from topicrawler_spark.crawl import bloom, driver, round as rnd
    from topicrawler_spark.crawl.checkpoint import CheckpointStore

    def on_round(rec, args, kwargs):
        state = args[1] if len(args) > 1 else kwargs["state"]
        rec["round"] = state.round_no + 1
        rec["_host_fetched"] = state.host_fetched

    tracer.wrap(driver, "run_crawl", RUN_CRAWL)
    # the driver imported run_round by name: patch the driver's binding
    tracer.wrap(driver, "run_round", RUN_ROUND, on_call=on_round)
    if not traced:
        return
    tracer.wrap(driver, "build_robots_table", "crawl.robots.build_robots_table")
    # imported inside functions at call time: patch the defining modules
    tracer.wrap(rnd, "prepare_pages", "crawl.round.prepare_pages")
    tracer.wrap(rnd, "build_round_ops", "crawl.round.build_round_ops")
    tracer.wrap(bloom, "bloom_add", "crawl.bloom.bloom_add")
    tracer.wrap(CheckpointStore, "commit_round", "crawl.checkpoint.commit_round")
    tracer.wrap(CheckpointStore, "resume", "crawl.checkpoint.resume")


def _rounds(tracer, rep: dict) -> list[dict]:
    """Round k: its run_round entry to the next entry, or to the return of
    its run_crawl call."""
    out = []
    for call in tracer.named(RUN_CRAWL, rep):
        rr = tracer.named(RUN_ROUND, call)
        for i, s in enumerate(rr):
            out.append({
                "start": s["start"],
                "end": rr[i + 1]["start"] if i + 1 < len(rr) else call["end"],
                "plan_end": s["end"],
                "plan_self": tracer.self_time(s),
            })
    return out


def _check(w, inp, runs, host_fetched_before: list, ref: dict) -> list[str]:
    from checks import engine_digest, invariants

    seen_rows = runs[-1].state.seen.select("url_hash", "canon").collect()
    problems = invariants(runs, inp.corpus.seeds, w.quota, host_fetched_before, seen_rows)
    got = engine_digest(runs, seen_rows)
    if got != ref:
        problems.append(f"digest differs from the simulator reference: {got} != {ref}")
    return problems


def _counts(runs) -> dict:
    from topicrawler_spark.crawl.priority import HIGH

    ms = [m for r in runs for m in r.metrics]

    def tot(key):
        return sum(m.get(key) or 0 for m in ms)

    fresh, suspect = tot("bloom_fresh"), tot("bloom_suspect")
    return {
        "urls": tot("urls_new") + tot("fetched"),
        "crawl.fetch_yield": tot("fetched") / max(tot("admitted"), 1),
        "crawl.urls_new": tot("urls_new"),
        "crawl.harvest_ratio": tot(f"n_directive_{HIGH}") / max(tot("urls_new"), 1),
        "crawl.bloom_fresh_ratio": fresh / (fresh + suspect) if fresh + suspect else 0.0,
    }


def _timed_reps(spark, w, inp, tracer, seconds: float, work: str, ref: dict):
    """Crawl until ``seconds`` of timed crawl wall are measured (at least
    once). Each crawl's untimed head runs first (``head_s``); checks run
    between crawls, outside the timed walls."""
    from workloads import head, tail

    reps, timed = [], 0.0
    while True:
        store = os.path.join(work, f"store{len(reps)}")
        begun, rep = time.time(), None
        try:
            runs = head(spark, w, inp, store)
            head_s = time.time() - begun
            with tracer.span("bench.rep") as rep:
                runs = runs + tail(spark, w, inp, store)
            error = None
        except Exception as e:  # a crash fails every round of the crawl
            runs, error = None, f"{type(e).__name__}: {e}"
        if runs is None:
            wall = rep["end"] - rep["start"] if rep else 0.0
            reps.append({"wall": wall, "rep": rep, "rounds": [], "problems": [error],
                         "runs": None, "head_s": time.time() - begun})
            break
        wall = rep["end"] - rep["start"]
        timed += wall
        rounds = _rounds(tracer, rep)
        # every round of the crawl, the head's too, for the quota check
        entries = tracer.named(RUN_ROUND, {"start": begun, "end": rep["end"]})
        t0 = time.time()
        problems = _check(w, inp, runs, [s["_host_fetched"] for s in entries], ref)
        reps.append({
            "wall": wall, "rep": rep, "rounds": rounds, "runs": runs, "head_s": head_s,
            "crawl": {"start": begun, "end": rep["end"]},
            "problems": problems, "check_s": time.time() - t0, **_counts(runs),
        })
        shutil.rmtree(store, ignore_errors=True)
        if timed >= seconds or reps[-1]["problems"]:
            break
    return reps


def _layer_metrics(tracer, reps, timing_text: str) -> dict:
    """Span-derived per-layer metrics: per round means, or per crawl means
    for once-per-crawl layers."""
    rounds = [r for rep in reps for r in rep["rounds"]]
    n = len(reps)

    def per_crawl(name, keep=lambda s: True, whole=False):
        """Seconds in ``name`` per crawl: in the timed call(s), or with
        ``whole`` in the untimed head as well."""
        return sum(s["end"] - s["start"] for rep in reps
                   for s in tracer.named(name, rep["crawl"] if whole else rep["rep"])
                   if keep(s)) / n

    def driver_side(s):
        return s["parent"] is None or tracer.spans[s["parent"]]["name"] != RUN_ROUND

    pre = 0.0
    for rep in reps:
        for call in tracer.named(RUN_CRAWL, rep["rep"]):
            rr = tracer.named(RUN_ROUND, call)
            pre += (rr[0]["start"] if rr else call["end"]) - call["start"]
    waits = [float(x) for x in re.findall(r"bgwait=([0-9.]+)s", timing_text)]
    return {
        "crawl.driver.round_s": statistics.mean(r["end"] - r["start"] for r in rounds),
        "crawl.driver.plan_s": statistics.mean(r["plan_self"] for r in rounds),
        "crawl.driver.exec_s": statistics.mean(r["end"] - r["start"] - r["plan_self"] for r in rounds),
        "crawl.driver.bgwait_s": statistics.mean(waits) if waits else 0.0,
        "crawl.driver.pre_round_s": pre / n,
        "crawl.robots.build_s": per_crawl("crawl.robots.build_robots_table"),
        "crawl.driver.ops_build_s": per_crawl("crawl.round.build_round_ops"),
        "crawl.checkpoint.commit_s": per_crawl("crawl.checkpoint.commit_round"),
        "crawl.checkpoint.resume_s": per_crawl("crawl.checkpoint.resume"),
        # the filter is built once, when the crawl passes bloom_min_seen
        "crawl.bloom.build_s": per_crawl("crawl.bloom.bloom_add", driver_side, whole=True),
    }


def _event_metrics(event_dir: str, reps) -> tuple[dict, list[dict]]:
    from eventlog import read_log, round_profile

    rows = round_profile(read_log(event_dir), [r for rep in reps for r in rep["rounds"]])

    def mean(k):
        return statistics.mean(r[k] for r in rows)

    return {
        "spark.jobs_per_round": mean("jobs"),
        "spark.plan_jobs_s": mean("plan_jobs_s"),
        "spark.idle_s": mean("idle_s"),
        "spark.arrow_task_s": mean("arrow_task_s"),
        "spark.arrow_tail_ratio": mean("arrow_tail_ratio"),
        "spark.other_task_s": mean("other_task_s"),
        "spark.shuffle_bytes": mean("shuffle_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.parts_gap_ratio": max(r["parts_gap"] for r in rows),
    }, rows


def _single_core(w, corpus_seed: int, work: str, ref: dict, n_cores: int, base: dict) -> dict:
    """The same workload once at local[1], after the same warm-up as the
    n-core pass: efficiency T1 / (n * Tn), overall and for the plan and
    exec parts of a round. Both timed crawls find the code generated; this
    pass runs in the driver JVM the n-core pass left, so its JIT is, if
    anything, warmer."""
    from spans import Tracer
    from topicrawler_spark.session import get_spark
    from workloads import build_corpus, build_inputs, warm_up

    spark = get_spark(master="local[1]", extra_conf=_spark_conf(work, None))
    try:
        inp = build_inputs(spark, *build_corpus(w, corpus_seed))
        warm_up(spark, w, inp, corpus_seed)
        tracer = Tracer()
        _install(tracer, traced=False)
        try:
            reps = _timed_reps(spark, w, inp, tracer, 0.0, work, ref)
        finally:
            tracer.restore()
    finally:
        _stop_spark(spark)
    if reps[-1]["problems"]:
        raise RuntimeError(f"single-core pass failed its checks: {reps[-1]['problems']}")
    rounds = reps[0]["rounds"]
    plan1 = statistics.mean(r["plan_self"] for r in rounds)
    exec1 = statistics.mean(r["end"] - r["start"] - r["plan_self"] for r in rounds)
    return {
        "scaling.eff_1_to_n": reps[0]["wall"] / (n_cores * base["wall"]),
        "scaling.plan_eff_1_to_n": plan1 / (n_cores * base["crawl.driver.plan_s"]),
        "scaling.exec_eff_1_to_n": exec1 / (n_cores * base["crawl.driver.exec_s"]),
    }


def _history(workload: str) -> str:
    """The untraced runs of this workload on this code: the file is keyed
    by a digest of the engine's and the benchmark's sources, since the
    checkout need not be a git repository."""
    h = hashlib.sha256()
    for top in ("topicrawler_spark", "crawlbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, top, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return os.path.join(SCRATCH, f"history-{workload}-{h.hexdigest()[:16]}.jsonl")


def _print_table(title: str, rows: list[dict]) -> None:
    if not rows:
        return
    keys = list(rows[0])
    print(title)
    print("  " + " ".join(f"{k:>14}" for k in ["round"] + keys))
    for i, r in enumerate(rows, start=1):
        print("  " + " ".join(f"{v:>14}" for v in [i] + [f"{r[k]:.4g}" for k in keys]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = args.trace == 1

    sys.path[:0] = [ROOT]
    try:
        import topicrawler_spark  # noqa: F401
        import pyspark  # noqa: F401
        from checks import load_references
        from spans import Tracer
        from workloads import WORKLOADS, build_corpus, build_inputs, warm_up

        refs = load_references()
    except (ImportError, OSError) as e:
        print(f"crawlbench: cannot load the engine or its references: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    # inputs repeat with period n_seeds: every seed has a pinned reference
    corpus_seed = args.seed % refs["n_seeds"]
    ref = refs[w.name][str(corpus_seed)]

    work = os.path.join(SCRATCH, f"work-{w.name}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(SCRATCH, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # workers import the engine from this checkout; scratch stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for knob in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_TIMING", "SPARK_GRAFT_MASTER"):
        os.environ.pop(knob, None)
    n_cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir)

    from topicrawler_spark.session import get_spark

    spark = get_spark(master=f"local[{n_cores}]", extra_conf=_spark_conf(work, event_dir))
    session_s = time.time() - T_START
    result: dict = {}
    try:
        # the generators run several times and report their median; the
        # pages DataFrame is made once (its first creation starts Arrow)
        builds = []
        for _ in range(SETUP_BUILDS):
            t0 = time.time()
            corpus, lm = build_corpus(w, corpus_seed)
            builds.append(time.time() - t0)
        t0 = time.time()
        inp = build_inputs(spark, corpus, lm)
        frame_s = time.time() - t0
        t0 = time.time()
        warm_up(spark, w, inp, corpus_seed)
        warm_s = time.time() - t0
        tracer = Tracer()
        _install(tracer, traced)
        tee = None
        if traced:
            os.environ["SPARK_GRAFT_TIMING"] = "1"
            tee = _Tee(sys.stderr)
            sys.stderr = tee
        try:
            reps = _timed_reps(spark, w, inp, tracer, args.seconds, work, ref)
        finally:
            tracer.restore()
            if tee is not None:
                sys.stderr = tee.inner
                os.environ.pop("SPARK_GRAFT_TIMING", None)
        # a stop-and-resume crawl's first head is its warm-up
        warm_s += reps[0]["head_s"]
        setup_s = session_s + statistics.median(builds) + frame_s + warm_s
        t_checked = time.time()
        peak_rss = _jvm_hwm_mb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

        problems = [p for rep in reps for p in rep["problems"]]
        attempted = len(reps) * w.rounds
        failed = sum(w.rounds for rep in reps if rep["problems"])
        ok_reps = [rep for rep in reps if not rep["problems"]]
        for p in problems:
            print(f"CHECK FAILED: {p}")
        if ok_reps:
            walls = sum(rep["wall"] for rep in ok_reps)
            round_walls = [r["end"] - r["start"] for rep in ok_reps for r in rep["rounds"]]
            e2e = {
                "crawl_urls_per_s": (sum(rep["urls"] for rep in ok_reps) / walls, "urls/s"),
                "round_s_p50": (statistics.median(round_walls), "s"),
                "setup_s": (setup_s, "s"),
            }
            print(f"workload={w.name} seed={args.seed} corpus_seed={corpus_seed} "
                  f"crawls={len(ok_reps)} rounds={len(round_walls)} cores={n_cores}")
            for name, (v, unit) in e2e.items():
                print(f"{name:>18} = {v:.4f} {unit}")
            # reported here and as per-layer metrics only: peak RSS spreads
            # ~25% between runs (heap growth follows GC timing), and the
            # error rate is 0 whenever every check passes
            print(f"{'peak_rss_mb':>18} = {peak_rss:.4f} MB")
            print(f"{'error_rate':>18} = {failed / attempted:.4f} fraction")
        if not traced:
            if ok_reps and not problems:
                with open(_history(w.name), "a") as f:
                    f.write(json.dumps({k: v for k, (v, _) in e2e.items()}) + "\n")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()} if ok_reps else {}
        else:
            setup = {"session.start_s": session_s, "datagen.corpus_s": statistics.median(builds),
                     "datagen.pages_frame_s": frame_s, "crawl.warmup_s": warm_s}
            metrics = _traced_metrics(spark, w, inp, tracer, reps, tee, work, event_dir,
                                      out_dir, args.seed, corpus_seed, ref, n_cores,
                                      e2e if ok_reps else None, failed / attempted,
                                      {**setup, "driver.peak_rss_mb": peak_rss})
            spark = None  # stopped inside, before the single-core pass
        result = {"correct": not problems, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"phases: session {session_s:.1f}s, input builds "
          f"{', '.join(f'{b:.1f}s' for b in builds)}, pages frame {frame_s:.1f}s, "
          f"warm-up {warm_s:.1f}s, setup {setup_s:.1f}s, "
          f"crawls+checks {t_checked - T_START - setup_s:.1f}s "
          f"(checks {sum(r.get('check_s', 0.0) for r in reps):.1f}s), "
          f"stop {time.time() - t_checked:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


# per-layer metric -> (the end-to-end metric it should move, the workloads
# it moves on); names, units and order are BENCHMARK.json's per_layer.
# BW = broadcast-wide, DR = deep-resume; "-" = a count that must repeat
# exactly, or a ceiling measured beside the crawl.
BW, DR, BOTH = "broadcast-wide", "deep-resume", "all"
MOVES = {
    "session.start_s": ("setup_s", BOTH),
    "datagen.corpus_s": ("setup_s", BOTH),
    "datagen.pages_frame_s": ("setup_s", BOTH),
    "crawl.warmup_s": ("setup_s", BOTH),
    "driver.peak_rss_mb": ("-", BOTH),
    "crawl.driver.round_s": ("round_s_p50", BOTH),
    "crawl.driver.plan_s": ("round_s_p50", DR),
    "crawl.driver.exec_s": ("crawl_urls_per_s", BW),
    "crawl.driver.bgwait_s": ("crawl_urls_per_s", BW),
    "crawl.driver.pre_round_s": ("crawl_urls_per_s", BOTH),
    "crawl.robots.build_s": ("crawl_urls_per_s", BOTH),
    "crawl.driver.ops_build_s": ("crawl_urls_per_s", BOTH),
    "crawl.checkpoint.commit_s": ("round_s_p50", DR),
    "crawl.checkpoint.resume_s": ("crawl_urls_per_s", DR),
    "crawl.bloom.build_s": ("round_s_p50", DR),
    "lm.join_scorer_build_s": ("-", DR),
    "lm.refresh_s": ("-", DR),
    "spark.jobs_per_round": ("round_s_p50", DR),
    "spark.plan_jobs_s": ("round_s_p50", BOTH),
    "spark.idle_s": ("round_s_p50", DR),
    "spark.arrow_task_s": ("crawl_urls_per_s", BW),
    "spark.arrow_tail_ratio": ("crawl_urls_per_s", BW),
    "spark.other_task_s": ("crawl_urls_per_s", BOTH),
    "spark.shuffle_bytes": ("driver.peak_rss_mb", BW),
    "spark.spill_bytes": ("driver.peak_rss_mb", BW),
    "spark.parts_gap_ratio": ("-", "-"),
    "functions.extract_mb_per_s": ("crawl_urls_per_s", BW),
    "functions.outlinks_pages_per_s": ("crawl_urls_per_s", BW),
    "functions.canon_rows_per_s": ("crawl_urls_per_s", BW),
    "seg.sentences_per_s": ("crawl_urls_per_s", BW),
    "seg.sentence_share_ratio": ("-", "-"),
    "lm.score_pages_per_s_cold": ("crawl_urls_per_s", BW),
    "lm.score_pages_per_s_warm": ("crawl_urls_per_s", BW),
    "scaling.eff_1_to_n": ("crawl_urls_per_s", BW),
    "scaling.plan_eff_1_to_n": ("round_s_p50", BW),
    "scaling.exec_eff_1_to_n": ("crawl_urls_per_s", BW),
    "crawl.fetch_yield": ("-", "-"),
    "crawl.urls_new": ("-", "-"),
    "crawl.harvest_ratio": ("-", "-"),
    "crawl.bloom_fresh_ratio": ("-", "-"),
    "crawl.error_rate": ("-", "-"),
    "trace.crawl_urls_per_s": ("-", "-"),
}


def _per_layer() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer"]
    if [m["name"] for m in listed] != list(MOVES):
        raise RuntimeError("BENCHMARK.json's per_layer and MOVES list different metrics")
    return listed


def _traced_metrics(spark, w, inp, tracer, reps, tee, work, event_dir, out_dir,
                    seed, corpus_seed, ref, n_cores, e2e, error_rate, setup) -> dict:
    from kernels import canon_rows_per_s, join_lm_times, python_kernels
    from workloads import ORDER

    ok_reps = [rep for rep in reps if not rep["problems"]]
    if not ok_reps:
        _stop_spark(spark)
        return {}
    layers = _layer_metrics(tracer, ok_reps, "".join(tee.text))
    kern = python_kernels(inp.corpus, inp.scorer)
    kern["functions.canon_rows_per_s"] = canon_rows_per_s(spark, kern.pop("_outlinks"))
    texts = kern.pop("_texts")
    if w.join_lm:
        kern.update(join_lm_times(spark, inp.lm, texts, ORDER))
    else:  # reported as 0: the other workload's traced run times these
        kern.update(dict.fromkeys(["lm.join_scorer_build_s", "lm.refresh_s"], 0.0))
    spark.stop()  # finalizes the event log; the JVM stays up for the next pass
    events, rows = _event_metrics(event_dir, ok_reps)
    base = {"wall": statistics.median(rep["wall"] for rep in ok_reps), **layers}
    if w.single_core:
        scaling = _single_core(w, corpus_seed, work, ref, n_cores, base)
    else:  # reported as 0: this workload has no single-core pass
        _stop_spark(spark)
        scaling = dict.fromkeys([k for k in MOVES if k.startswith("scaling.")], 0.0)

    rep0 = ok_reps[0]
    counts = {k: v for k, v in rep0.items() if k.startswith("crawl.")}
    if any({k: v for k, v in rep.items() if k.startswith("crawl.")} != counts for rep in ok_reps):
        raise RuntimeError("outcome counts differ between crawls of one input")
    untraced = []
    if os.path.exists(_history(w.name)):
        with open(_history(w.name)) as f:
            untraced = [json.loads(line)["crawl_urls_per_s"] for line in f if line.strip()]
    traced_tput = e2e["crawl_urls_per_s"][0]
    print(f"tracing overhead: traced crawl_urls_per_s {traced_tput:.2f} vs untraced median "
          + (f"{statistics.median(untraced):.2f} over {len(untraced)} runs of this code "
             f"(ratio {traced_tput / statistics.median(untraced):.3f})" if untraced
             else "n/a (no untraced run of this code recorded yet)"))
    _print_table("per-round profile (span + event log, seconds / bytes):", rows)
    worst = max(r["parts_gap"] for r in rows)
    print(f"plan + jobs + gaps between jobs account for every round wall within {worst:.1%}"
          + (" (over the 5% the profile aims for)" if worst > 0.05 else ""))

    values = {**setup, **layers, **events, **kern, **scaling, **counts,
              "crawl.error_rate": error_rate,
              "trace.crawl_urls_per_s": traced_tput}
    tracer.dump(os.path.join(out_dir, f"{w.name}-seed{seed}-spans.jsonl"))
    with open(os.path.join(out_dir, f"{w.name}-seed{seed}-layers.json"), "w") as f:
        json.dump({"layers": values, "rounds": rows}, f, indent=1)
    print(f"per-layer metrics ({w.name}):")
    print(f"  {'metric':<34} {'value':>12} {'unit':<12} {'moves':<17} on")
    listed = _per_layer()
    for m in listed:
        moves, on = MOVES[m["name"]]
        print(f"  {m['name']:<34} {values[m['name']]:>12.6g} {m['unit']:<12} {moves:<17} {on}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}


if __name__ == "__main__":
    sys.exit(main())
