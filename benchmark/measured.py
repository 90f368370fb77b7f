"""The measured session: one fresh interpreter that imports the engine,
opens its Spark session and runs one workload through the engine's
public calls, closed loop, one client.

Started by ``run.py`` (never imported by it), which times the process
from its launch, samples its memory and checks what it writes:

    python3 benchmark/measured.py '<json settings>'

Writes ``session.json`` (marks, per-operation walls, spans, layer
probes) and, for the mixes, ``results.pkl`` (collected query results)
into the settings' ``out`` directory. Exit code 3 means the engine
could not be imported.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time
import traceback
from contextlib import contextmanager

import config as C


class Tracer:
    """Spans around calls into the engine, kept in memory.

    When off, ``span`` only runs the body. When on, each span is
    recorded with its parent and, for ``job=True`` spans, tags the
    Spark jobs it launches with a job group named after the span so the
    event log can be split by span."""

    def __init__(self, spark, on: bool):
        self.sc = spark.sparkContext
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: bool = False, phase: str | None = None):
        if not self.on:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "phase": phase}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"s{sid}:{name}"
        if job:
            self.sc.setJobGroup(group, group)
            rec["group"] = group
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if job:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def warm_loop(tr: Tracer, cfg: dict, out: dict, one_pass) -> None:
    """Warm passes, closed loop, until ``seconds`` have passed (and at
    least ``MIN_WARM_PASSES``). A traced run traces every other pass so
    that the untraced ones give its overhead, so it makes at least two."""
    traced = tr.on
    min_passes = max(C.MIN_WARM_PASSES, 2 if traced else 1)
    out["warm_walls"], out["warm_traced"] = [], []
    t0 = time.time()
    k = 0
    while k < min_passes or time.time() - t0 < cfg["seconds"]:
        tr.on = traced and k % 2 == 0
        out["warm_traced"].append(tr.on)
        out["warm_walls"].append(one_pass(k))
        k += 1
    tr.on = traced


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _error(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"[:400]


# ---------------------------------------------------------------------------
# query mixes
# ---------------------------------------------------------------------------


def _count_session_rel(counts: dict) -> None:
    """Count builds and hits of the engine's session-shared relations by
    wrapping ``queries.session_rel`` wherever a module holds it."""
    import scip_spark.queries as Q

    orig = Q.session_rel

    def counted(spark, sf_dir, kind, build):
        built = []

        def build_counted():
            built.append(True)
            return build()

        df = orig(spark, sf_dir, kind, build_counted)
        counts["builds" if built else "hits"] += 1
        return df

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("scip_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, counted)


def run_mix(spark, tr: Tracer, cfg: dict, out: dict) -> dict:
    from scip_spark.queries import REGISTRY

    names = C.MIXES[cfg["workload"]]
    sf_dir = cfg["tables"]
    shared = {"builds": 0, "hits": 0}
    if tr.on:
        _count_session_rel(shared)
    ops: list[dict] = []
    #: collected result per pass and query; every pass is checked
    results: dict[str, dict] = {}

    def one(name: str, phase: str):
        rec = {"name": name, "phase": phase, "module": REGISTRY[name].fn.__module__}
        t0 = time.time()
        try:
            with tr.span("construct", job=True):
                df = REGISTRY[name].fn(spark, sf_dir)
            with tr.span("execute", job=True):
                results[phase][name] = df.toPandas()
            rec["wall"] = time.time() - t0
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            rec.update(error=_error(e), wall=time.time() - t0)
        ops.append(rec)

    def one_pass(phase: str) -> float:
        results[phase] = {}
        t0 = time.time()
        with tr.span("pass", phase=phase):
            for name in names:
                one(name, phase)
        return time.time() - t0

    out["cold_wall"] = one_pass("cold")
    warm_loop(tr, cfg, out, lambda k: one_pass(f"warm{k}"))
    if tr.on:
        out["layers"]["queries.cached_mb"] = _storage_mb(spark)
        out["layers"]["queries.shared_builds"] = shared["builds"]
        out["layers"]["queries.shared_hits"] = shared["hits"]
    out["ops"] = ops
    return results


# ---------------------------------------------------------------------------
# imaging
# ---------------------------------------------------------------------------


def _pipeline_config() -> dict:
    from scip_spark.plans.imaging_bench import NCHANNELS, PIPELINE_CONFIG

    cfg = dict(PIPELINE_CONFIG)
    cfg["feature_extraction"] = {"nchannels": NCHANNELS, "families": C.FEATURE_FAMILIES}
    return cfg


def _build_and_export(spark, tr: Tracer, df, dest: str, layers: dict | None):
    """``pipeline.build`` → ``export.export_parquet``, releasing the
    build's persisted relations afterwards."""
    from scip_spark.plans.pipeline import BuildCaches, build
    from scip_spark.sources.export import export_parquet

    caches = BuildCaches()
    try:
        t0 = time.time()
        with tr.span("plans.build", job=True):
            feats = build(df, _pipeline_config(), caches=caches)
        t1 = time.time()
        with tr.span("sources.export", job=True):
            export_parquet(feats, dest)
        if layers is not None:
            layers["build_s"].append(t1 - t0)
            layers["persisted_mb"].append(_storage_mb(spark))
    finally:
        caches.unpersist(blocking=True)


def _tiff_frame(spark, tr: Tracer, acq: str):
    """The CLI's load path: metadata scan → cached union → pixel attach."""
    from scip_spark.sources import filescan
    from scip_spark.sources.tiffio import read_tiff

    import datagen as G  # numpy/pyarrow: imported after setup, not before

    with tr.span("sources.tiff_meta"):
        meta = filescan.tiff_meta(spark, acq, regex=G.PATH_REGEX, channels=G.CHANNELS)
        df = filescan.load_meta_union([meta])
    with tr.span("sources.attach"):
        return filescan.attach_pixels(df, G.CHANNELS, read_tiff), df


def _in_memory_frame(spark, ids: list[int]):
    """The same frames as the acquisition, handed to the engine in
    memory (no TIFF codec, no metadata scan)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from scip_spark.schema import EVENT_SCHEMA

    import datagen as G

    rows = [{
        "group": f"g{i % G.NGROUPS}",
        "pixels": np.stack(G.frames(i)).ravel().tolist(),
        "pixels_shape": [len(G.CHANNELS), G.SIDE, G.SIDE],
    } for i in ids]
    schema = T.StructType([f for f in EVENT_SCHEMA.fields if f.name in rows[0]])
    return spark.createDataFrame(pd.DataFrame(rows), schema=schema)


def run_imaging(spark, tr: Tracer, cfg: dict, out: dict) -> None:
    acq, dest = cfg["acquisition"], cfg["exports"]
    layers = {"build_s": [], "persisted_mb": []} if tr.on else None
    ops: list[dict] = []

    def one(phase: str, k: int):
        rec = {"name": "pipeline", "phase": phase, "export": f"run{k}"}
        t0 = time.time()
        try:
            with tr.span("pipeline", phase=phase):
                df, meta = _tiff_frame(spark, tr, acq)
                try:
                    _build_and_export(spark, tr, df, os.path.join(dest, f"run{k}"),
                                      layers if phase != "cold" else None)
                finally:
                    meta.unpersist(blocking=True)
            rec["wall"] = time.time() - t0
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            rec.update(error=_error(e), wall=time.time() - t0)
        ops.append(rec)
        return rec["wall"]

    out["cold_wall"] = one("cold", 0)
    warm_loop(tr, cfg, out, lambda k: one(f"warm{k}", k + 1))
    # untimed reference: the in-memory pipeline over the same frames
    rec = {"name": "reference", "phase": "verify", "export": "reference"}
    try:
        with tr.span("reference"):
            _build_and_export(spark, tr, _in_memory_frame(spark, cfg["image_ids"]),
                              os.path.join(dest, "reference"), None)
    except Exception as e:  # noqa: BLE001
        rec["error"] = _error(e)
    ops.append(rec)
    out["ops"] = ops
    if tr.on:
        import layers as L

        out["layers"].update(L.imaging_probes(
            spark, cfg, lambda s, acq: _tiff_frame(s, Tracer(s, False), acq)))
        out["layers"]["plans.build_s"] = _mean(layers["build_s"])
        out["layers"]["plans.persisted_mb"] = _mean(layers["persisted_mb"])


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------------------


def main() -> int:
    cfg = json.loads(sys.argv[1])
    marks = {"start": time.time()}
    try:
        import scip_spark  # noqa: F401
        import scip_spark.entry_queries  # noqa: F401 — the full registry
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 3
    from scip_spark.session import get_spark, silence_bounded_window_warning

    marks["imported"] = time.time()
    conf = {"spark.ui.showConsoleProgress": "false"}
    if cfg["trace"]:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": cfg["eventlog"],
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    marks["session"] = time.time()
    spark.range(1).count()
    marks["first_job"] = time.time()
    silence_bounded_window_warning(spark)

    tr = Tracer(spark, bool(cfg["trace"]))
    out: dict = {"marks": marks, "layers": {}}
    results = None
    try:
        if cfg["workload"] == "imaging_tiff":
            run_imaging(spark, tr, cfg, out)
        else:
            results = run_mix(spark, tr, cfg, out)
    except Exception:  # noqa: BLE001 — report what ran, then fail the run
        out["fatal"] = traceback.format_exc()[-2000:]
    out["spans"] = tr.spans
    out["cores"] = spark.sparkContext.defaultParallelism
    spark.stop()
    if results is not None:
        with open(os.path.join(cfg["out"], "results.pkl"), "wb") as f:
            pickle.dump(results, f)
    with open(os.path.join(cfg["out"], "session.json"), "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
