#!/usr/bin/env python3
"""Benchmark of the typed Spark layer, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One driver process runs a closed loop with one client on local[nproc]: it
starts one op, waits for it to finish, checks its output outside the
timed region, then starts the next. A pass is every op of the workload
once, in a seed-shuffled order. Set-up (Spark session, seeded input
generation, one untimed warm pass) is measured on its own; an untimed
burn-in of further passes follows. The loop then runs whole passes until
``--seconds`` have elapsed and at least 12 ops ran.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics (per traced
pass) plus the tracing overhead. Each metric is printed on its own line
with its unit and sample count; full detail goes to ``.perfbench_out/``.
The last stdout line is the JSON summary
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".perfbench_out")
DATAGEN_REPEATS = 3
MIN_OP_SAMPLES = 12
# retention high enough that no traced op's jobs or stages are evicted
SPARK_CONF = (
    "spark.ui.retainedJobs=100000;spark.ui.retainedStages=100000;"
    "spark.ui.showConsoleProgress=false"
)


def _die(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _hermetic_env(scratch: str, cpus: int) -> None:
    """Pin the session the library builds: nothing from the caller's
    environment may switch library paths or validation on."""
    for k in list(os.environ):
        if k.startswith(("SPARK_GRAFT_", "COLNADE_")):
            del os.environ[k]
    paths = [ROOT, os.path.join(ROOT, "scripts"), HERE]
    # memory settings stay the library's own (get_spark's driver heap)
    os.environ.update(
        # temporary files of every JVM (the launcher's too) and of Python stay
        # inside the scratch dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_EXTRA_CONF=SPARK_CONF,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        TMPDIR=scratch,
        # Python workers import the library from this checkout
        PYTHONPATH=os.pathsep.join(paths + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    )
    sys.path[:0] = paths


# ---------------------------------------------------------------------------
# process-level measurements
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except OSError:
                continue
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    for pid in [proc.pid] + _descendants(proc.pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def _stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait for every process it started."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    family = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in family):
        time.sleep(0.1)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


class Loop:
    def __init__(self, ops, tracer, rng: random.Random):
        self.ops, self.tracer, self.rng = ops, tracer, rng
        self.samples: list[dict] = []  # one per op run
        self.passes: list[dict] = []  # complete passes
        self.results: dict[str, object] = {}
        self.failures: list[dict] = []
        self.n_ops = 0
        self.pass_no = 0

    def phase_for(self, op):
        tracer = self.tracer

        def phase(name):
            if not tracer.on:
                return nullcontext()
            return tracer.span(f"{op.layer}.{name}", group=f"{op.layer}.{name}")

        return phase

    def run_op(self, op, op_id: str, traced: bool) -> float:
        err = result = None
        # wrappers go in and out outside the timed region
        with self.tracer.recording(op_id) if traced else nullcontext():
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    result = op.run(self.phase_for(op))
            except Exception as e:  # noqa: BLE001  (an op failure is a measured outcome)
                err = f"{type(e).__name__}: {e}"[:500]
            dt = time.perf_counter() - t0
        if err is None:
            try:
                err = op.check(result)
            except Exception as e:  # noqa: BLE001
                err = f"check raised {type(e).__name__}: {e}"[:500]
        self.n_ops += 1
        if err is not None:
            self.failures.append({"op": op.name, "id": op_id, "error": err})
        self.results[op.name] = result
        return dt

    def warm(self, tag: str) -> None:
        """One untimed pass in the op list's own order."""
        for op in self.ops:
            self.run_op(op, f"{tag}:{op.name}", traced=False)

    def measure(self, seconds: float, modes: tuple[bool, ...]) -> list[dict]:
        """Whole passes, cycling through ``modes`` (traced or not), until
        ``seconds`` have elapsed and every mode holds MIN_OP_SAMPLES ops, so
        the op median has data on both sides even where a pass holds a few
        long ops. Alternating traced and untraced passes keeps the residual
        warm-up trend out of the tracing overhead."""
        start = time.perf_counter()
        done: list[dict] = []

        def enough() -> bool:
            return time.perf_counter() - start >= seconds and all(
                sum(len(p["ops"]) for p in done if p["traced"] == m) >= MIN_OP_SAMPLES for m in modes
            )

        while not enough():
            traced = modes[len(done) % len(modes)]
            order = list(self.ops)
            self.rng.shuffle(order)
            self.pass_no += 1
            rec = {"traced": traced, "ops": []}
            for op in order:
                op_id = f"p{self.pass_no}:{op.name}"
                dt = self.run_op(op, op_id, traced)
                s = {"op": op.name, "id": op_id, "s": dt, "traced": traced, "pass": self.pass_no}
                self.samples.append(s)
                rec["ops"].append(s)
            rec["s"] = sum(s["s"] for s in rec["ops"])
            self.passes.append(rec)
            done.append(rec)
        return done


# ---------------------------------------------------------------------------


def _pct(values: list[float], q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def _per_layer(loop: Loop, tracer, spark, traced_passes, untraced_passes, setup, cpus, inputs) -> dict:
    from tracing import OPERATOR_MODULES, engine_metrics

    n = len(traced_passes)
    secs, calls = tracer.totals()
    traced_ids = {s["id"] for p in traced_passes for s in p["ops"]}
    eng = engine_metrics(spark, traced_ids, cpus)

    def per(v):
        return v / n

    m: dict[str, tuple[float, str]] = {
        "entry.build_s": (per(secs["entry.build"]), "s"),
        "entry.build_jobs": (per(eng["entry.build_jobs"]), "count"),
        "py4j.calls": (per(tracer.py4j_calls), "count"),
        "py4j.s": (per(tracer.py4j_s), "s"),
        "expr.build_us": (per(secs["expr.build"]) * 1e6, "us"),
        "dataframe.verb_s": (per(secs["dataframe.verb"]), "s"),
        "backend.translate_s": (per(secs["backend.translate"]), "s"),
        "backend.translate_calls": (per(calls["backend.translate"]), "count"),
        "io.footer_schema_s": (per(secs["io.footer_schema"]), "s"),
        "io.footer_schema_calls": (per(calls["io.footer_schema"]), "count"),
        "io.footer_fallbacks": (per(tracer.footer_fallbacks), "count"),
        "io.read_s": (per(secs["io.read"]), "s"),
        "io.write_s": (per(secs["io.write"]), "s"),
        "validation.structural_s": (per(secs["validation.structural"]), "s"),
        "validation.full_s": (per(secs["validation.full"]), "s"),
        "validation.jobs": (per(eng["validation.jobs"]), "count"),
    }
    # typed-minus-raw build per bench_overhead shape, from untraced passes
    by_op: dict[str, list[float]] = {}
    for p in untraced_passes:
        for s in p["ops"]:
            by_op.setdefault(s["op"], []).append(s["s"])
    shapes = sorted({k.split(".")[1] for k in by_op if k.startswith("twin.")})
    overhead = [
        statistics.median(by_op[f"twin.{sh}.typed"]) - statistics.median(by_op[f"twin.{sh}.raw"])
        for sh in shapes
    ]
    m["dataframe.overhead_us"] = (statistics.mean(overhead) * 1e6 if overhead else 0.0, "us")
    twin_fail = {f["op"] for f in loop.failures if f["op"].startswith("twin.")}
    m["dataframe.plans_identical"] = (float(sum(f"twin.{sh}.typed" not in twin_fail for sh in shapes)), "count")
    # io write amplification and planted-violation recall (validated_io)
    written = [op for op in loop.ops if getattr(op, "out_path", None) and not op.planted]
    in_bytes = sum(os.path.getsize(op.path) for op in written)
    m["io.write_bytes_per_input_byte"] = (
        sum(_dir_bytes(op.out_path) for op in written) / in_bytes if in_bytes else 0.0, "ratio")
    planted_ops = [op for op in loop.ops if getattr(op, "planted", False)]
    if planted_ops:
        from workloads import PLANTED

        want = sum(PLANTED.values()) * len(planted_ops)
        got = 0
        for op in planted_ops:
            found = (loop.results.get(op.name) or {}).get("violations") or {}
            got += sum(min(found.get(k, 0), v) for k, v in PLANTED.items())
        m["validation.violations_found_frac"] = (got / want, "ratio")
    else:
        m["validation.violations_found_frac"] = (0.0, "ratio")
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.build_s"] = (per(secs[f"operators.{mod}"]), "s")
        m[f"operators.{mod}.calls"] = (per(calls[f"operators.{mod}"]), "count")
    audit = loop.results.get("minhash_estimate_pairs") or {}
    m["operators.dedup.candidates"] = (float(audit.get("rows", 0)), "count")
    m["operators.dedup.decision_agreement"] = (float(audit.get("agree") or 0.0), "ratio")
    # typed ops only analyze their plan ("typed.analyze"): no Spark execution
    m["spark.exec_s"] = (per(secs["entry.exec"] + secs["io.exec"]), "s")
    for k, unit in [
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
        ("executor_cpu_s", "s"), ("gc_s", "s"), ("slot_idle_s", "s"),
        ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"), ("spill_bytes", "B"),
        ("input_bytes", "B"), ("failed_tasks", "count"),
    ]:
        m[f"spark.{k}"] = (per(eng[k]), unit)
    docs = inputs.get("docs") or 1
    m["spark.shuffle_write_bytes_per_doc"] = (per(eng["shuffle_write_bytes"]) / docs, "B/doc")
    m["setup.session_s"] = (setup["session_s"], "s")
    m["setup.datagen_s"] = (setup["datagen_s"], "s")
    m["setup.warm_s"] = (setup["warm_s"], "s")
    t_med = statistics.median(p["s"] for p in traced_passes)
    u_med = statistics.median(p["s"] for p in untraced_passes)
    m["trace.overhead_s"] = (t_med - u_med, "s")
    return {k: {"value": float(v), "unit": u, "n": n} for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # str hashes order sets and dicts, and with them the library's work:
        # with random hashing whole runs of one seed differed by ~20%.
        # Replaces this process; nothing has started yet.
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, "PYTHONHASHSEED": "0"})
    if not (os.path.isdir(os.path.join(ROOT, "colnade_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        return _die(f"no colnade_spark checkout in {ROOT}: run from the repository root")

    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    _hermetic_env(scratch, cpus)
    try:
        return _run(args, cpus, scratch)
    finally:
        import shutil

        shutil.rmtree(scratch, ignore_errors=True)


def _run(args, cpus: int, scratch: str) -> int:
    import colnade_spark as cs
    from colnade_spark.session import get_spark

    import datagen
    from tracing import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        return _die(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cs.set_validation("OFF")
    tag = f"{wl.name}-seed{args.seed}"

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        data_dir = os.path.join(scratch, "data")
        gen_times = []
        for _ in range(DATAGEN_REPEATS):
            t0 = time.perf_counter()
            wl.generate(data_dir, args.seed)
            gen_times.append(time.perf_counter() - t0)
        inputs = datagen.dir_stats(data_dir)
        docs_file = os.path.join(data_dir, "documents.parquet")
        if os.path.exists(docs_file):
            import pyarrow.parquet as pq

            inputs["docs"] = pq.read_metadata(docs_file).num_rows
        else:
            inputs["docs"] = inputs["rows"]

        fp_path = os.path.join(OUT, "fingerprints", f"{wl.data_key(args.seed)}.json")
        refs: dict = {}
        # the oracle runs only until this checkout holds checked fingerprints
        run_oracle = not os.path.exists(fp_path)
        if not run_oracle:
            with open(fp_path) as f:
                refs = json.load(f)
        tracer = Tracer(spark)
        ops = wl.make_ops(spark, data_dir, args.seed, refs, tracer, scratch)
        loop = Loop(ops, tracer, random.Random(args.seed))

        t0 = time.perf_counter()
        loop.warm("w0")
        warm_s = time.perf_counter() - t0
        setup = {"session_s": session_s, "datagen_s": statistics.median(gen_times), "warm_s": warm_s}
        setup_s = sum(setup.values())
        # burn-in, outside set-up and measurement: the JVM keeps compiling
        # the driver-side paths of short ops for tens of seconds, so passes
        # measured right after the first one are still speeding up. A count
        # of passes, not a time, so that every run does the same work.
        t0 = time.perf_counter()
        for i in range(1, 1 + wl.burn_in_passes):
            loop.warm(f"w{i}")
        burn_in_s = time.perf_counter() - t0

        passes = loop.measure(args.seconds, (False, True) if args.trace else (False,))
        untraced = [p for p in passes if not p["traced"]]
        traced = [p for p in passes if p["traced"]]

        pass_s = statistics.median(p["s"] for p in untraced)
        op_ms = [s["s"] * 1e3 for s in loop.samples if not s["traced"]]
        jvm = _jvm_pid(spark)
        peak_rss_mb = (_hwm_kb("self") + (_hwm_kb(jvm) if jvm else 0)) / 1024.0
        end_to_end = {
            "setup_s": {"value": setup_s, "unit": "s", "n": 1},
            "pass_s": {"value": pass_s, "unit": "s", "n": len(untraced)},
            "op_ms.p50": {"value": statistics.median(op_ms), "unit": "ms", "n": len(op_ms)},
        }
        # printed, not gated: under the library's default heap the JVM's peak
        # depends on when the collector grew the heap (see perfbench/README.md)
        extra = {"peak_rss_mb": {"value": peak_rss_mb, "unit": "MB", "n": 1}}
        if len(op_ms) >= 100:
            extra["op_ms.p90"] = {"value": _pct(op_ms, 0.9), "unit": "ms", "n": len(op_ms)}
        per_layer = (
            _per_layer(loop, tracer, spark, traced, untraced, setup, cpus, inputs) if args.trace else {}
        )
        # checks against an oracle run after every measurement, so they
        # change neither set-up nor peak RSS
        t0 = time.perf_counter()
        oracle_fail = wl.oracle(spark, data_dir, ops) if run_oracle else {}
        oracle_s = time.perf_counter() - t0
        loop.n_ops += len(oracle_fail)
        loop.failures += [{"op": k, "id": "oracle", "error": v} for k, v in oracle_fail.items() if v]
        extra["fail_frac"] = {"value": len(loop.failures) / loop.n_ops, "unit": "ratio", "n": loop.n_ops}
    finally:
        t0 = time.perf_counter()
        _stop_spark(spark)
        teardown_s = time.perf_counter() - t0

    if not loop.failures and run_oracle:
        os.makedirs(os.path.dirname(fp_path), exist_ok=True)
        with open(fp_path, "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus, "inputs": inputs, "setup": setup, "datagen_s": gen_times, "burn_in_s": burn_in_s,
        "oracle_s": oracle_s, "teardown_s": teardown_s,
        "end_to_end": end_to_end, "extra": extra, "per_layer": per_layer,
        "passes": [{"traced": p["traced"], "s": p["s"]} for p in loop.passes],
        "samples": loop.samples, "failures": loop.failures, "fingerprints": refs,
    }
    os.makedirs(OUT, exist_ok=True)
    detail_path = os.path.join(OUT, f"{tag}-trace{args.trace}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if args.trace:
        tracer.write_spans(os.path.join(OUT, f"{tag}-spans.jsonl"))

    shown = per_layer if args.trace else {**end_to_end, **extra}
    print(f"perfbench {wl.name} seed={args.seed} inputs: {inputs['rows']} rows, {inputs['bytes']} bytes")
    for name, m in shown.items():
        print(f"perfbench {wl.name} {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    for fl in loop.failures[:5]:
        print(f"perfbench {wl.name} FAILED {fl['op']} [{fl['id']}]: {fl['error'][:200]}")
    print(f"perfbench detail: {os.path.relpath(detail_path, ROOT)}")
    metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in shown.items() if k not in extra}
    print(json.dumps({
        "correct": not loop.failures, "attempted": loop.n_ops, "failed": len(loop.failures),
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
