"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_continue --seed 1 --seconds 16 --trace 0

Run from the repository root. One process drives ``local[<cores>]``
with a single closed-loop client. Prints a human-readable summary,
then, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import engine  # noqa: E402
from perfbench.stats import describe, median  # noqa: E402

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ingest_records_per_s", "records/s", "higher", 0.25),
    ("batch_p50_s", "s", "lower", 0.25),
    ("batch_tail_s", "s", "lower", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
    ("query_tail_s", "s", "lower", 0.25),
    ("queries_per_s", "queries/s", "higher", 0.25),
    ("bytes_stored_per_input_byte", "ratio", "lower", 0.1),
    ("peak_rss_mb", "MB", "lower", 0.15),
]

# name, unit, better
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("listing.calls", "count", "lower"),
    ("listing.s", "s", "lower"),
    ("listing.entries_scanned", "count", "lower"),
    ("listing.files_returned", "count", "higher"),
    ("listing.useful_ratio", "ratio", "higher"),
    ("checkpoint.read_s", "s", "lower"),
    ("checkpoint.rows_scanned", "count", "lower"),
    ("checkpoint.write_s", "s", "lower"),
    ("framing.s", "s", "lower"),
    ("framing.frames", "count", "higher"),
    ("framing.payload_bytes", "B", "higher"),
    ("framing.shuffle_bytes", "B", "lower"),
    ("decode.s", "s", "lower"),
    ("decode.frames", "count", "higher"),
    ("decode.dropped", "count", "lower"),
    ("protowire.us_per_frame", "us", "lower"),
    ("keys.rows", "count", "higher"),
    ("keys.encoded", "count", "lower"),
    ("keys.memo_hit_ratio", "ratio", "higher"),
    ("keys.us_per_key", "us", "lower"),
    ("project.s", "s", "lower"),
    ("project.tables", "count", "higher"),
    ("project.rows_out", "count", "higher"),
    ("project.decode_passes", "count", "lower"),
    ("append.s", "s", "lower"),
    ("append.jobs", "count", "lower"),
    ("append.files_written", "count", "lower"),
    ("append.bytes_written", "B", "lower"),
    ("query.plan_s", "s", "lower"),
    ("query.exec_s", "s", "lower"),
    ("query.views_registered", "count", "lower"),
    ("query.rows_returned", "count", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.cpu_utilisation", "ratio", "higher"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.input_bytes", "B", "lower"),
    ("spark.output_bytes", "B", "lower"),
]
# self time per layer, from the spans of the traced ops
LAYERS = [
    "perfbench",
    "session",
    "sources.listing",
    "sources.framing",
    "ingest.decode",
    "functions.keys",
    "ingest.filetypes",
    "ingest.warehouse",
    "queries",
    "spark",
]
PER_LAYER += [(f"self.{layer}_s", "s", "lower") for layer in LAYERS]
PER_LAYER += [
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
    ("trace.extra_s", "s", "lower"),
]


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(args, work: str) -> dict:
    from perfbench.trace import SparkRest, Tracer, replay_ingest
    from perfbench.workloads import WORKLOADS

    engine.prepare_env(work)
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.generate()
    tracer = Tracer() if args.trace else None
    r: dict = {"wl": wl, "layers": None}
    spark = None
    rss = engine.RssSampler()
    try:
        # set-up, as a CLI run pays it: launch the JVM, build the session,
        # then the workload's first touch of its path and its state
        ticks0, t0 = engine.cpu_ticks(), time.perf_counter()
        spark = engine.start(work)
        t1 = time.perf_counter()
        wl.setup(spark)
        r["start_s"], r["warmup_s"] = t1 - t0, time.perf_counter() - t1
        r["setup_wall_s"] = r["start_s"] + r["warmup_s"]
        r["setup_s"] = r["setup_wall_s"] * engine.unstolen_share(ticks0, engine.cpu_ticks())

        if tracer is not None:
            tracer.install()
            rest = SparkRest(spark)
            mark = rest.watermark()
        rss.start()  # the loaded footprint: the measured loop only, not the checks
        ticks0 = engine.cpu_ticks()
        r["measure_s"], walls = loop(wl, spark, args.seconds, tracer)
        ticks1 = engine.cpu_ticks()
        rss.stop()
        r["steal_share"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        stolen = ticks1[1] - ticks0[1]
        r["steal_busy_share"] = stolen / max(stolen + ticks1[2] - ticks0[2], 1)
        if tracer is not None:
            t0 = time.perf_counter()
            tracer.restore()
            spark_tot = rest.totals(mark)
            checkpoint_rows = [rest.scan_rows(ids) for ids in tracer.group_jobs(spark, "checkpoint").values() if ids]
            replay = {}
            if wl.replay_type:
                scratch = os.path.join(work, "wh", "replay")
                replay = replay_ingest(spark, rest, wl.replay_type, wl.last_input.paths, scratch)
            kernels = kernel_timings(wl)
            extra_s = time.perf_counter() - t0
        wl.finish(spark)
    finally:
        if spark is not None:
            engine.stop(spark, shutdown_jvm=True)
    r["peak_rss_mb"] = rss.peak_mb
    if tracer is not None:
        r["layers"] = layer_metrics(
            wl, tracer, r, spark_tot, checkpoint_rows, replay, kernels, walls, extra_s
        )
    return r


def loop(wl, spark, seconds: float, tracer) -> tuple[float, dict[bool, list[float]]]:
    """The closed loop: one op at a time, in rounds of ``wl.quantum``
    ops. The round count comes from ``seconds`` and the workload's
    nominal round time, never from the host's speed, so every run of a
    workload takes the same samples. Returns the loop's wall time and
    the round walls, untraced (False) and traced (True); a traced run
    traces every other round and leaves the first, coldest round out of
    the comparison."""
    rounds = max(3 if tracer else 1, round(seconds / wl.round_s))
    walls: dict[bool, list[float]] = {False: [], True: []}
    t_start = time.perf_counter()
    for q in range(rounds):
        traced = tracer is not None and q % 2 == 1
        if traced:
            tracer.begin(q)
        q_start = time.perf_counter()
        with wl.stolen_time_removed():
            for i in range(q * wl.quantum, (q + 1) * wl.quantum):
                if tracer is not None:
                    with tracer.span("perfbench", "op"):
                        wl.op(spark, i, tracer)
                else:
                    wl.op(spark, i, tracer)
        if q:
            walls[traced].append(time.perf_counter() - q_start)
        if traced:
            tracer.end()
    return time.perf_counter() - t_start, walls


def kernel_timings(wl) -> dict[str, float]:
    """In-process runs of the two per-record Python kernels on the last
    op's own input: the wire decode on up to 2000 frames, and the key
    encoder on every key column chunk an Arrow batch would carry, once
    timed and once counting the base58check encodes it performs."""
    import pandas as pd

    from huckli_spark.functions import keys
    from huckli_spark.ingest.filetypes import REGISTRY
    from huckli_spark.sources import protowire
    from perfbench import gen

    fs = wl.last_input
    path = fs.paths[0]
    msg = next(s.msg for s in REGISTRY.values() if os.path.basename(path).startswith(s.prefix + "."))
    frames = gen.read_frames(path)[:2000]
    t = time.perf_counter()
    for f in frames:
        protowire.decode(msg, f)
    out = {"protowire.us_per_frame": (time.perf_counter() - t) / len(frames) * 1e6}

    batches = [pd.Series(b) for b in fs.key_batches]
    rows = sum(len(b) for b in batches)
    t = time.perf_counter()
    for b in batches:
        keys._pubkey_batch(b)
    out["keys.us_per_key"] = (time.perf_counter() - t) / rows * 1e6
    encode, encoded = keys.__dict__["helium_pubkey"], [0]

    def counting(key):
        encoded[0] += 1
        return encode(key)

    keys.helium_pubkey = counting
    try:
        for b in batches:
            keys._pubkey_batch(b)
    finally:
        keys.helium_pubkey = encode
    out.update(
        {"keys.rows": rows, "keys.encoded": encoded[0], "keys.memo_hit_ratio": 1 - encoded[0] / rows}
    )
    return out


def layer_metrics(wl, tracer, r, spark_tot, checkpoint_rows, replay, kernels, walls, extra_s) -> dict:
    """Every PER_LAYER metric: per-op values are medians over the traced
    ops, ``spark.*`` sums the whole loop, the lazy layers come from the
    staged replay, the kernels from in-process runs."""
    ops = tracer.ops()
    selfs = tracer.self_times()

    def per_op(fn) -> float:
        return median([fn(op) for op in ops]) if ops else 0.0

    def count(key: str) -> float:
        return per_op(lambda op: tracer.counts[op].get(key, 0.0))

    def stat(key: str) -> float:
        vals = [s[key] for s in wl.op_stats.values() if key in s]
        return median(vals) if vals else 0.0

    entries, returned = count("listing.entries_scanned"), count("listing.files_returned")
    if returned and not entries:
        raise RuntimeError("the listing returned files but read no directory entry through os.listdir")
    sql_calls = sum(1 for s in tracer.spans if s.layer == "ingest.warehouse" and s.name == "sql")
    views = sum(c.get("query.views_registered", 0.0) for c in tracer.counts.values())
    untraced, traced = median(walls[False]), median(walls[True])
    m = {
        "session.start_s": r["start_s"],
        "session.warmup_s": r["warmup_s"],
        "listing.calls": count("listing.calls"),
        "listing.s": per_op(lambda op: tracer.span_time(op, "sources.listing", "list_local")),
        "listing.entries_scanned": entries,
        "listing.files_returned": returned,
        "listing.useful_ratio": returned / entries if entries else 0.0,
        "checkpoint.read_s": per_op(
            lambda op: tracer.span_time(op, "ingest.warehouse", "latest_file_processed_timestamp")
        ),
        "checkpoint.rows_scanned": median(checkpoint_rows),
        "checkpoint.write_s": per_op(lambda op: tracer.span_time(op, "ingest.warehouse", "save_files_processed")),
        "framing.s": replay.get("framing.s", 0.0),
        "framing.frames": replay.get("framing.frames", 0.0),
        "framing.payload_bytes": replay.get("framing.payload_bytes", 0.0),
        "framing.shuffle_bytes": replay.get("framing.shuffle_bytes", 0.0),
        "decode.s": replay.get("decode.s", 0.0),
        "decode.frames": replay.get("decode.frames", 0.0),
        "decode.dropped": wl.dropped,
        **kernels,
        "project.s": replay.get("project.s", 0.0),
        "project.tables": replay.get("project.tables", 0.0),
        "project.rows_out": stat("rows_out"),
        "project.decode_passes": replay.get("project.decode_passes", 0.0),
        "append.s": replay.get("append.s", 0.0),
        "append.jobs": count("append.jobs"),
        "append.files_written": stat("files_written"),
        "append.bytes_written": stat("bytes_written"),
        "query.plan_s": median(wl.plan_s),
        "query.exec_s": median(wl.exec_s),
        "query.views_registered": views / sql_calls if sql_calls else 0.0,
        "query.rows_returned": median(wl.rows_returned),
        **{f"spark.{k}": v for k, v in spark_tot.items()},
        "spark.cpu_utilisation": spark_tot["executor_cpu_s"] / (r["measure_s"] * engine.cores()),
        **{f"self.{layer}_s": per_op(lambda op, layer=layer: selfs[op].get(layer, 0.0)) for layer in LAYERS},
        "trace.overhead_s": traced - untraced,
        "trace.overhead_share": (traced - untraced) / untraced if untraced else 0.0,
        "trace.extra_s": extra_s,
    }
    return m


def end_to_end(r: dict) -> dict[str, float]:
    wl = r["wl"]
    batches, queries = describe(wl.batch_s), describe(wl.query_s)
    return {
        "setup_s": r["setup_s"],
        "ingest_records_per_s": wl.records / sum(wl.batch_s) if wl.batch_s else 0.0,
        "batch_p50_s": batches["p50"],
        "batch_tail_s": batches["tail"],
        "query_p50_s": queries["p50"],
        "query_tail_s": queries["tail"],
        "queries_per_s": len(wl.query_s) / sum(wl.query_s) if wl.query_s else 0.0,
        "bytes_stored_per_input_byte": wl.stored_bytes / wl.payload_bytes if wl.payload_bytes else 0.0,
        "peak_rss_mb": r["peak_rss_mb"],
    }


def report(args, r: dict) -> dict:
    wl = r["wl"]
    failed_share = wl.failed / wl.attempted if wl.attempted else 1.0
    print(f"workload {wl.name} seed {args.seed} on local[{engine.cores()}], one closed-loop client")
    print(f"inputs: {json.dumps(wl.input_props)}")
    print(
        f"set-up {r['setup_wall_s']:.3f} s wall (JVM launch and session {r['start_s']:.3f} s, "
        f"first touch and state {r['warmup_s']:.3f} s); measured {r['measure_s']:.3f} s"
    )
    print(
        f"host: {r['steal_share']:.1%} of CPU time stolen by co-tenants during the loop, "
        f"{r['steal_busy_share']:.1%} of the time the CPUs were wanted"
    )
    for what, kept, wall in (("batches", wl.batch_s, wl.batch_wall_s), ("queries", wl.query_s, wl.query_wall_s)):
        d, w = describe(kept), describe(wall)
        print(
            f"{what}: n={d['n']} p50={d['p50']:.4f} s {d['tail_pct']}={d['tail']:.4f} s; "
            f"as measured p50={w['p50']:.4f} s {w['tail_pct']}={w['tail']:.4f} s"
        )
    print(f"failed_share {failed_share:.4f} ratio ({wl.failed} of {wl.attempted} ops)")
    for p in wl.problems[:20]:
        print(f"  problem: {p}")
    if args.trace:
        units = {name: unit for name, unit, _b in PER_LAYER}
        values = r["layers"]
    else:
        units = {name: unit for name, unit, _b, _bound in END_TO_END}
        values = end_to_end(r)
    metrics = {name: {"value": float(values[name]), "unit": units[name]} for name in units}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    return {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed if wl.attempted else 1,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    import huckli_spark  # noqa: F401 - fail fast when the program is absent

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        out = report(args, measure(args, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
