"""Seeded end-to-end benchmark of the engine.

    python3 benchmark/run.py --workload imaging_tiff|relational_mix|corpus_mix
                             --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``.benchmark_out/``, launches one measured session
(``measured.py``) as a fresh interpreter, samples the summed RSS of
that session's process tree, checks every output, and prints a metric
table followed, as the last line, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import config as C
import datagen as G

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SESSION_TIMEOUT_S = 150


# ---------------------------------------------------------------------------
# process tree memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


class TreeSampler(threading.Thread):
    """Peak summed RSS of a process and its descendants; also remembers
    every descendant seen, so that none outlives the run."""

    def __init__(self, pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak_mb, self.samples = 0.0, 0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pids = _tree(self.pid)
            self.seen.update(pids)
            self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in pids))
            self.samples += 1
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _reap(pids: set[int], grace_s: float = 15.0) -> None:
    """Wait for the given processes to end; kill what is left after the
    grace period."""
    deadline = time.time() + grace_s
    alive = set(pids)
    while alive:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}") and _rss_mb(p) > 0}
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
            grace_s = 0
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _cell(v) -> str:
    """Engine-neutral rendering of one value: order-insensitive and
    dtype-faithful (an integer never equals a float)."""
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _rows(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    return cols, sorted(tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False))


def same_result(a, b) -> bool:
    return _rows(a) == _rows(b)


def check_mix(tables: str, results: dict, names: list[str]) -> list[str]:
    """Each cold-pass result against DuckDB running the entry's oracle
    SQL over the same files; each warm-pass result against the checked
    cold-pass one. Returns ``phase/query`` of every wrong result."""
    import duckdb

    sys.path.insert(0, ROOT)
    import scip_spark.entry_queries  # noqa: F401
    from scip_spark.queries import REGISTRY

    bad = []
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(tables)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, f)}')")
        for name in names:
            first = results["cold"].get(name)
            if first is not None:
                if not same_result(first, con.execute(REGISTRY[name].sql).fetch_df()):
                    bad.append(f"cold/{name}")
            for phase, got in results.items():
                if phase != "cold" and name in got and (
                        first is None or not same_result(got[name], first)):
                    bad.append(f"{phase}/{name}")
    finally:
        con.close()
    return bad


def rollup(export_dir: str) -> list[dict]:
    """Per-group object counts and exact ``floor(x·2^20)`` sums of one
    probe column per feature family, from the exported Parquet."""
    import duckdb

    sums = ", ".join(f'SUM(CAST(FLOOR("{c}" * 1048576.0) AS BIGINT)) AS "sum_{c[5:]}"'
                     for c in C.PROBE_COLUMNS)
    sql = (f'SELECT "group", COUNT(*) AS n_objects, COUNT("{C.PROBE_COLUMNS[0]}") AS n_kept, '
           f"{sums} FROM read_parquet('{export_dir}/*.parquet') "
           'GROUP BY "group" ORDER BY "group"')
    con = duckdb.connect()
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [{k: (int(v) if k != "group" else v) for k, v in zip(cols, row)}
                for row in cur.fetchall()]
    finally:
        con.close()


def check_imaging(exports: str, ops: list[dict], golden: bool) -> list[str]:
    """Every pipeline run's export must equal the in-memory reference;
    the golden seed's reference must equal the engine's golden file."""
    bad = []
    try:
        ref = rollup(os.path.join(exports, "reference"))
    except Exception as e:  # noqa: BLE001 — an unreadable export is a failure
        return [f"reference: {type(e).__name__}: {e}"]
    if golden:
        with open(os.path.join(ROOT, C.GOLDEN_FILE)) as f:
            if ref != json.load(f)["rows"]:
                bad.append("reference")
    for op in ops:
        if op["name"] == "pipeline" and "error" not in op:
            try:
                if rollup(os.path.join(exports, op["export"])) != ref:
                    bad.append(op["export"])
            except Exception as e:  # noqa: BLE001
                bad.append(f"{op['export']}: {type(e).__name__}")
    return bad


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(sess: dict, t_launch: float) -> tuple[dict, dict]:
    m = {
        "setup_s": sess["marks"]["first_job"] - t_launch,
        "cold_s": sess["cold_wall"],
        "pass_s": statistics.median(sess["warm_walls"]),
    }
    n = {"setup_s": 1, "cold_s": 1, "pass_s": len(sess["warm_walls"])}
    return m, n


def per_layer(sess: dict, workload: str, eventlog: str | None) -> dict:
    import layers as L

    marks = sess["marks"]
    m = dict(sess["layers"])
    m["session.import_s"] = marks["imported"] - marks["start"]
    m["session.get_spark_s"] = marks["session"] - marks["imported"]
    m["session.first_job_s"] = marks["first_job"] - marks["session"]

    spans = sess["spans"]
    traced = [f"warm{k}" for k, t in enumerate(sess["warm_traced"]) if t]
    walls = [w for w, t in zip(sess["warm_walls"], sess["warm_traced"]) if t]
    plain = [w for w, t in zip(sess["warm_walls"], sess["warm_traced"]) if not t]
    m["trace.overhead_frac"] = (statistics.median(walls) / statistics.median(plain) - 1
                                if walls and plain else 0.0)
    m["trace.spans"] = len(spans)

    # every span inherits the phase of its outermost ancestor
    phase: dict[int, str] = {}
    for s in spans:
        phase[s["id"]] = s["phase"] or phase.get(s["parent"], "")

    def groups(name_prefix: str, phases: list[str]) -> set[str]:
        return {s["group"] for s in spans if "group" in s
                and s["name"].startswith(name_prefix) and phase[s["id"]] in phases}

    p = len(traced)
    if workload in C.MIXES:
        per = {"construct": 0.0, "execute": 0.0}
        for s in spans:
            if s["name"] in per and phase[s["id"]] in traced:
                per[s["name"]] += s["end"] - s["start"]
        warm_ops = [o for o in sess["ops"] if o["phase"].startswith("warm") and "error" not in o]
        m["queries.p50_s"] = statistics.median(o["wall"] for o in warm_ops) if warm_ops else 0.0
        m["queries.construct_s"] = per["construct"] / max(1, p)
        m["queries.execute_s"] = per["execute"] / max(1, p)
        mods: dict[str, float] = {}
        for o in warm_ops:
            key = f"functions.{o['module'].rsplit('.', 1)[-1]}_s"
            mods[key] = mods.get(key, 0.0) + o["wall"]
        m.update({k: v / len(sess["warm_walls"]) for k, v in mods.items()})
    if eventlog:
        log = L.read_eventlog(eventlog)
        warm = groups("", traced)
        m.update(L.spark_metrics(log, warm, p, sum(walls), sess["cores"]))
        m.update(L.udf_metrics(log, groups("", ["cold"]), warm, p))
        if workload in C.MIXES:
            m["queries.construct_jobs"] = L.jobs_of(log, groups("construct", traced)) / max(1, p)
        else:
            m["plans.build_jobs"] = L.jobs_of(log, groups("plans.build", traced)) / max(1, p)
    return m


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=C.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "scip_spark", "__init__.py")):
        print("the engine (scip_spark/) is not in this checkout", file=sys.stderr)
        return 2

    out = os.path.join(ROOT, ".benchmark_out", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "out": out, "exports": os.path.join(out, "exports"),
           "eventlog": os.path.join(out, "eventlog")}
    t_gen = time.time()
    if args.workload == "imaging_tiff":
        golden = args.seed == C.GOLDEN_SEED
        ids = G.image_ids(args.seed, C.GOLDEN_IMAGES if golden else C.IMAGES)
        cfg["image_ids"] = ids
        cfg["acquisition"] = G.write_acquisition(os.path.join(out, "inputs"), ids)
    else:
        cfg["tables"] = G.write_tables(os.path.join(out, "inputs"), args.seed)
    gen_s = time.time() - t_gen
    if args.trace:
        os.makedirs(cfg["eventlog"])

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = C.DRIVER_MEM
    log_path = os.path.join(out, "session.log")
    with open(log_path, "w") as log:
        t_launch = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measured.py"), json.dumps(cfg)],
            cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT)
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=SESSION_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
            for p in _tree(proc.pid):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            proc.wait()
        sampler.stop()
    t_exit = time.time()
    _reap(sampler.seen)
    t_reaped = time.time()

    session_json = os.path.join(out, "session.json")
    if rc != 0 or not os.path.exists(session_json):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"measured session failed (exit {rc})", file=sys.stderr)
        return 1
    with open(session_json) as f:
        sess = json.load(f)
    if "fatal" in sess:
        sys.stderr.write(sess["fatal"])
        print("measured session stopped early", file=sys.stderr)
        return 1

    # ---- checks: every operation is attempted; errors and wrong
    # results are failures
    ops = sess["ops"]
    errors = [f"{o['phase']}/{o['name']}: {o['error']}" for o in ops if "error" in o]
    if args.workload == "imaging_tiff":
        mismatches = check_imaging(cfg["exports"], ops, args.seed == C.GOLDEN_SEED)
    else:
        with open(os.path.join(out, "results.pkl"), "rb") as f:
            results = pickle.load(f)  # written by measured.py for this run
        mismatches = check_mix(cfg["tables"], results, C.MIXES[args.workload])
    failed = len(errors) + len(mismatches)
    for line in errors + [f"wrong result: {m}" for m in mismatches]:
        print(f"FAILED {line}", file=sys.stderr)

    check_s = time.time() - t_reaped
    e2e, counts = end_to_end(sess, t_launch)
    declared = _declared("per_layer" if args.trace else "end_to_end")
    if args.trace:
        logs = [os.path.join(cfg["eventlog"], n) for n in os.listdir(cfg["eventlog"])]
        values = per_layer(sess, args.workload, logs[0] if logs else None)
        values["session.peak_rss_mb"] = sampler.peak_mb
    else:
        values = e2e

    # ---- report: a readable table, then the result line
    n_items = len(cfg.get("image_ids", [])) or len(C.MIXES.get(args.workload, []))
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={sess['cores']} items/pass={n_items} inputs={gen_s:.1f}s "
          f"session={t_exit - t_launch:.1f}s reap={t_reaped - t_exit:.1f}s checks={check_s:.1f}s "
          f"attempted={len(ops)} failed={failed} rss_samples={sampler.samples} "
          f"warm_passes={len(sess['warm_walls'])} traced={sum(sess['warm_traced'])}")
    if args.workload == "imaging_tiff":
        print(f"#   images_per_s={n_items / e2e['pass_s']:.3f} (warm, {n_items} images "
              f"of 3x{G.SIDE}x{G.SIDE} float32)")
    metrics = {}
    for d in declared:
        name = d["name"]
        ran = name in values
        v = float(values.get(name, 0.0))
        metrics[name] = {"value": v, "unit": d["unit"]}
        note = f"n={counts[name]}" if name in counts else ""
        if not ran:
            note = "(layer not run on this workload)"
        print(f"#   {name:<36} {v:>14.6f} {d['unit']:<8} {note}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
