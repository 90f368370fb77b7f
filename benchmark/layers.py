"""Per-layer measurement for the traced run.

- ``imaging_probes`` runs in the measured session after the timed
  work: isolated calls of the ``sources`` functions, of the operators'
  public batch factories on one prepared batch, and of the ``imageops``
  kernels on the acquisition's own frames.
- ``read_eventlog``, ``spark_metrics`` and ``udf_metrics`` run in the
  runner after the session stopped: they split Spark's event log by the
  job groups the traced spans set, and read the ``spark`` execution
  figures and the ``udf`` Arrow/Python boundary figures (Spark's Python
  SQL metrics) from it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import config as C
import datagen as G

PROBE_IMAGES = 32   # images in the operator probe batch
KERNEL_FRAMES = 64  # frames per kernel probe


def _median_wall(fn, repeats: int = 3) -> float:
    """Median wall of ``repeats`` calls of ``fn``."""
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p)) / 2**20


def _source_probes(spark, cfg: dict, tiff_frame) -> dict:
    from scip_spark.sources import filescan
    from scip_spark.sources.export import export_parquet
    from scip_spark.sources.tiffio import read_tiff

    acq = cfg["acquisition"]
    files = sorted(glob.glob(os.path.join(acq, "**", "*.tif"), recursive=True))
    m = {}
    m["sources.tiff_meta_s"] = _median_wall(
        lambda: filescan.tiff_meta(spark, acq, regex=G.PATH_REGEX, channels=G.CHANNELS).count())

    def attach_count():
        df, meta = tiff_frame(spark, acq)
        df.count()
        meta.unpersist(blocking=True)

    m["sources.attach_s"] = _median_wall(attach_count, 2)
    sample = files[: 3 * KERNEL_FRAMES]
    m["sources.read_tiff_us"] = 1e6 * _median_wall(lambda: [read_tiff(p) for p in sample]) / len(sample)
    m["sources.mb_read"] = sum(os.path.getsize(p) for p in files) / 2**20
    # export of an already-materialized feature frame (a warm run's output)
    run1 = os.path.join(cfg["exports"], "run1")
    feats = spark.read.parquet(run1).persist()
    feats.count()
    dest = os.path.join(cfg["exports"], "export_probe")
    m["sources.export_s"] = _median_wall(lambda: export_parquet(feats, dest), 2)
    feats.unpersist(blocking=True)
    m["sources.export_mb"] = _dir_mb(run1)
    return m


def _probe_batch(ids: list[int]):
    import numpy as np
    import pandas as pd
    from scip_spark.schema import EVENT_COLUMNS

    pdf = pd.DataFrame({c: [None] * len(ids) for c in EVENT_COLUMNS})
    pdf["group"] = [f"g{i % G.NGROUPS}" for i in ids]
    pdf["pixels"] = [np.stack(G.frames(i)).ravel() for i in ids]
    pdf["pixels_shape"] = [np.array([len(G.CHANNELS), G.SIDE, G.SIDE], dtype=np.int32)] * len(ids)
    return pdf


def _batch_fn(frame):
    """The batch function behind a single-stage operator DataFrame (the
    engine records it for stage fusion)."""
    return frame._scip_fuse[1][-1]


def _operator_probes(spark, ids: list[int]) -> dict:
    import numpy as np
    from scip_spark.operators.features import make_features_batch
    from scip_spark.operators.illumination import correct
    from scip_spark.operators.masking import make_apply_mask_batch, make_mask_batch
    from scip_spark.operators.normalization import make_rescale_batch
    from scip_spark.operators.segmentation import segment_labels, to_events
    from scip_spark.operators.threshold_filter import make_filter_sum_batch
    from scip_spark.schema import EVENT_SCHEMA

    n = len(ids)
    raw = _probe_batch(ids)
    empty = spark.createDataFrame([], EVENT_SCHEMA)
    mu = {}
    for g in sorted(set(raw["group"])):
        stack = np.stack([p for p, gg in zip(raw["pixels"], raw["group"]) if gg == g])
        mu[g] = stack.mean(axis=0).reshape(len(G.CHANNELS), G.SIDE, G.SIDE).astype(np.float32)
    stages = {}

    def timed(name, fn, arg):
        stages[name] = 1e3 * _median_wall(lambda: fn(arg)) / n
        return fn(arg)

    corrected = timed("correct", _batch_fn(correct(empty, precomputed=mu)), raw)
    seg, ev = _batch_fn(segment_labels(empty)), _batch_fn(to_events(empty))
    events = timed("segment", lambda b: ev(seg(b)), corrected)
    masked = timed("mask_otsu", make_mask_batch("otsu"), events)
    timed("mask_li", make_mask_batch("li"), events)
    applied = timed("apply_mask", make_apply_mask_batch(), masked)
    filtered = timed("filter", make_filter_sum_batch(0, with_extents=True), applied)
    # group extents as ``normalization.group_extents`` folds them: a
    # None extent is a channel whose mask selects nothing
    lut: dict = {}
    for g, lo, hi in zip(filtered["group"], filtered["ch_min"], filtered["ch_max"]):
        for ch, (a, b) in enumerate(zip(lo or [], hi or [])):
            if a is not None:
                old = lut.get((g, ch), (a, b))
                lut[(g, ch)] = (min(old[0], a), max(old[1], b))
    rescaled = timed("rescale", make_rescale_batch(lut, key="group"), filtered)
    timed("features", make_features_batch(len(G.CHANNELS), C.FEATURE_FAMILIES), rescaled)
    for fam in C.FEATURE_FAMILIES:
        timed(f"features_{fam}", make_features_batch(len(G.CHANNELS), [fam]), rescaled)
    return {f"operators.{k}_ms": v for k, v in stages.items()}


def _kernel_probes(ids: list[int]) -> dict:
    import numpy as np
    from scip_spark.kernels import imageops as K

    frames = [G.frames(i)[0] for i in ids]
    stack = np.stack(frames)
    fgs = [K.fill_holes(f > K.threshold_otsu(f)) for f in frames]
    dists = K.distance_transform_batch(fgs)
    markers = [K.local_maxima_markers(d, min_distance=3)[0] for d in dists]
    labels = [K.watershed(-d, mk, mask=fg) for d, mk, fg in zip(dists, markers, fgs)]
    n = len(frames)

    def per_call(fn, calls):
        return 1e6 * _median_wall(fn) / calls

    return {
        "kernels.watershed_us": per_call(
            lambda: [K.watershed(-d, mk, mask=fg) for d, mk, fg in zip(dists, markers, fgs)], n),
        "kernels.label_us": per_call(lambda: [K.label(fg, 2) for fg in fgs], n),
        "kernels.threshold_otsu_us": per_call(lambda: [K.threshold_otsu(f) for f in frames], n),
        "kernels.threshold_li_us": per_call(lambda: [K.threshold_li(f) for f in frames], n),
        "kernels.regionprops_full_us": per_call(
            lambda: [K.regionprops_full(lab) for lab in labels], n),
        "kernels.median_disk_batch_us": per_call(lambda: K.median_disk_batch(stack, 5), 1),
        "kernels.sobel_batch_us": per_call(lambda: K.sobel_batch(stack), 1),
        "kernels.distance_transform_batch_us": per_call(
            lambda: K.distance_transform_batch(fgs), 1),
    }


def imaging_probes(spark, cfg: dict, tiff_frame) -> dict:
    ids = cfg["image_ids"]
    m = _source_probes(spark, cfg, tiff_frame)
    m.update(_operator_probes(spark, ids[:PROBE_IMAGES]))
    m.update(_kernel_probes(ids[:KERNEL_FRAMES]))
    return m


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "time to run Python workers": "python",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "received",
}


def read_eventlog(path: str) -> dict:
    """Jobs (with their job group and stages) and finished tasks (with
    their stage, metrics and Python SQL-metric updates)."""
    jobs, tasks = {}, []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {"group": props.get("spark.jobGroup.id"),
                                      "stages": ev.get("Stage IDs", [])}
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                py = {}
                for acc in info.get("Accumulables", []):
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        py[key] = py.get(key, 0) + int(acc.get("Update") or 0)
                tasks.append({"stage": ev["Stage ID"], "launch": info.get("Launch Time", 0),
                              "finish": info.get("Finish Time", 0), "m": tm, "py": py})
    return {"jobs": jobs, "tasks": tasks}


def _task_figures(tasks: list[dict]) -> dict:
    tot = {k: 0.0 for k in ("run", "cpu", "gc", "delay", "sw", "sr", "wait", "spill",
                            "boot", "init", "python", "sent", "received", "busy")}
    empty = 0
    durs = []
    for t in tasks:
        m = t["m"]
        dur = t["finish"] - t["launch"]
        durs.append(dur)
        run = m.get("Executor Run Time", 0)
        tot["busy"] += dur
        tot["run"] += run
        tot["cpu"] += m.get("Executor CPU Time", 0) / 1e6
        tot["gc"] += m.get("JVM GC Time", 0)
        tot["delay"] += max(0, dur - run - m.get("Executor Deserialize Time", 0)
                            - m.get("Result Serialization Time", 0))
        sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
        tot["sw"] += sw.get("Shuffle Bytes Written", 0)
        tot["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["wait"] += sr.get("Fetch Wait Time", 0)
        tot["spill"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
        records = (m.get("Input Metrics", {}).get("Records Read", 0)
                   + sr.get("Total Records Read", 0))
        empty += records == 0
        for k, v in t["py"].items():
            tot[k] += v
    tot["tasks"] = len(tasks)
    tot["empty"] = empty
    tot["task_p50_ms"] = statistics.median(durs) if durs else 0.0
    return tot


def tasks_of(log: dict, groups: set[str]) -> list[dict]:
    stages = {s for j in log["jobs"].values() if j["group"] in groups for s in j["stages"]}
    return [t for t in log["tasks"] if t["stage"] in stages]


def jobs_of(log: dict, groups: set[str]) -> int:
    return sum(1 for j in log["jobs"].values() if j["group"] in groups)


def spark_metrics(log: dict, groups: set[str], passes: int, wall_s: float,
                  cores: int) -> dict:
    """``spark.*`` per warm pass (task-median and fractions over all)."""
    tasks = tasks_of(log, groups)
    f = _task_figures(tasks)
    stages = {t["stage"] for t in tasks}
    p = max(1, passes)
    mb = 2**20
    return {
        "spark.jobs": jobs_of(log, groups) / p,
        "spark.stages": len(stages) / p,
        "spark.tasks": f["tasks"] / p,
        "spark.task_p50_ms": f["task_p50_ms"],
        "spark.executor_run_s": f["run"] / 1e3 / p,
        "spark.executor_cpu_s": f["cpu"] / 1e3 / p,
        "spark.gc_s": f["gc"] / 1e3 / p,
        "spark.scheduler_delay_s": f["delay"] / 1e3 / p,
        "spark.shuffle_write_mb": f["sw"] / mb / p,
        "spark.shuffle_read_mb": f["sr"] / mb / p,
        "spark.shuffle_wait_s": f["wait"] / 1e3 / p,
        "spark.spill_mb": f["spill"] / mb / p,
        "spark.empty_partition_frac": f["empty"] / f["tasks"] if f["tasks"] else 0.0,
        "spark.slot_busy_frac": f["busy"] / 1e3 / (wall_s * cores) if wall_s else 0.0,
    }


def udf_metrics(log: dict, cold_groups: set[str], warm_groups: set[str],
                passes: int) -> dict:
    """``udf.*``: worker boot and init over the cold unit; Python time
    and Arrow bytes per warm pass. Spark reports the times in ms."""
    cold = _task_figures(tasks_of(log, cold_groups))
    warm = _task_figures(tasks_of(log, warm_groups))
    p = max(1, passes)
    return {
        "udf.boot_s": cold["boot"] / 1e3,
        "udf.init_s": cold["init"] / 1e3,
        "udf.python_s": warm["python"] / 1e3 / p,
        "udf.mb_sent": warm["sent"] / 2**20 / p,
        "udf.mb_received": warm["received"] / 2**20 / p,
    }
