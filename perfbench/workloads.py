"""The benchmark's workloads: how each makes its inputs, runs one job
through the program's CLI, traces that job layer by layer, and checks
its outputs.

A job always runs the CLI entry point a user would run
(`pipeline.main`, `corpus_pipeline.main`) in the client's one Spark
session, with fresh output and work directories. The traced variant
runs the very same entry point with the public functions it calls
wrapped in spans (see `_patched`), so the trace describes the CLI and
not a re-composition of it.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import math
import os
import zipfile
from dataclasses import dataclass

import numpy as np

import inputs
import tracing

SIDECARS = {"indexer.properties", "timeregex.properties",
            "datastore.properties"}


def _digests(cog_dir: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(cog_dir)):
        if f.endswith(".tif"):
            with open(os.path.join(cog_dir, f), "rb") as fh:
                out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for root, _dirs, files in os.walk(path):
        rows += sum(pq.read_metadata(os.path.join(root, f)).num_rows
                    for f in files if f.endswith(".parquet"))
    return rows


def _dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(suffix))
    return total


@contextlib.contextmanager
def _patched(tracer, targets):
    """Wrap module attributes in spans for the duration of one job.

    targets: (module, attribute, span name, {action method: span name}).
    A lazy function returns a DataFrame and the caller runs the action
    later; the action methods named in the dict are wrapped on the
    returned object so the action gets its own span. A missing
    attribute raises, so a renamed program function cannot silently
    drop out of the trace."""
    saved = []

    def wrap(fn, name, actions):
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            for method, action_name in actions.items():
                bound = getattr(out, method)

                def action(*a, _bound=bound, _name=action_name, **kw):
                    with tracer.span(_name) as sp:
                        res = _bound(*a, **kw)
                        if isinstance(res, int):
                            sp["result"] = res  # e.g. a count's rows
                        return res

                setattr(out, method, action)
            return out

        return traced

    try:
        for module, attr, name, actions in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, wrap(fn, name, actions))
        yield
    finally:
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)


@dataclass(frozen=True)
class Forecast:
    """fort.63-shaped forecast through the regrid CLI."""

    name: str = "forecast"
    n: int = 520  # lattice side: 270,400 nodes
    steps: int = 16  # 4.33M (ts, node) rows: above the 64 MB broadcast cut
    extent: float = 2.0
    raster: int = 200  # 200 x 200 cells per COG
    variable: str = "zeta"
    nominal_job_s: float = 10.0
    units_name: str = "cells"

    def make_inputs(self, root: str, seed: int) -> dict:
        path = os.path.join(root, "input", "fort.63.nc")
        mesh = inputs.write_fort63(path, seed, self.n, self.extent,
                                   self.steps, self.variable)
        return {"input_dir": os.path.dirname(path),
                "input_bytes": os.path.getsize(path), "mesh": mesh}

    def units(self, ctx: dict) -> int:
        """Raster cells one job writes."""
        return self.steps * self.raster * self.raster

    def run_job(self, spark, ctx: dict, job_dir: str, tracer=None) -> dict:
        from adcirctime2cogs_spark import pipeline

        out_dir = os.path.join(job_dir, "output")
        final_dir = os.path.join(job_dir, "final")
        argv = [
            "--input-dir", ctx["input_dir"], "--output-dir", out_dir,
            "--final-dir", final_dir, "--input-file", "fort.63.nc",
            "--input-variable", self.variable,
            "--res", repr(self.extent / self.raster),
        ]
        with contextlib.redirect_stdout(io.StringIO()):
            if tracer is None:
                rc = pipeline.main(argv)
            else:
                with _patched(tracer, self._trace_targets()):
                    rc = pipeline.main(argv)
        if rc != 0:
            raise RuntimeError(f"regrid CLI exited with {rc}")
        return {
            "zip": os.path.join(final_dir, f"{self.variable}.zip"),
            "cog_dir": os.path.join(out_dir, self.variable),
            "staging": os.path.join(out_dir, "_tables"),
        }

    @staticmethod
    def _trace_targets():
        from adcirctime2cogs_spark import pipeline
        from adcirctime2cogs_spark.sources import netcdf

        return [
            (netcdf, "adcirc_nc_to_tables", "sources.ingest", {}),
            (pipeline, "load_mesh", "mesh.load", {}),
            (pipeline, "load_timeseries", "mesh.load_timeseries",
             {"count": "regrid.broadcast_probe"}),
            (pipeline, "bounding_box", "grid.bounding_box", {}),
            (pipeline, "grid_spec_from_bbox", "grid.spec", {}),
            (pipeline, "raster_cells", "grid.raster_cells", {}),
            (pipeline, "build_weights", "weights.plan",
             {"count": "weights.materialize"}),
            (pipeline, "regrid", "regrid.plan", {}),
            (pipeline, "write_cogs", "cog.plan", {"collect": "cog.write"}),
            (pipeline, "write_mosaic_sidecars", "sidecar.write", {}),
            (pipeline, "archive_output", "sidecar.zip", {}),
        ]

    def check(self, ctx: dict, out: dict, check_dir: str) -> list[str]:
        """The zip holds exactly one COG per timestep plus the three
        sidecars; every finite pixel equals the analytic field; pixels
        well inside the domain are finite and pixels well inside a hole
        are not."""
        from adcirctime2cogs_spark.sinks.cog import TS_FMT
        from adcirctime2cogs_spark.sinks.geotiff import (
            geotransform_of,
            read_geotiff,
        )

        m = ctx["mesh"]
        errors: list[str] = []
        t0 = np.datetime64(inputs.T0.replace(" ", "T"))
        labels = {
            f"{self.variable}."
            + (t0 + np.timedelta64(t, "h")).astype(object).strftime(TS_FMT)
            + ".tif": t
            for t in range(self.steps)
        }
        with zipfile.ZipFile(out["zip"]) as zf:
            names = set(zf.namelist())
            if names != set(labels) | SIDECARS:
                return [f"zip members {sorted(names)[:5]}... != expected "
                        f"{len(labels)} COGs + {len(SIDECARS)} sidecars"]
            zf.extractall(check_dir)
        s = m["spacing"]
        lon0, lat0, extent = inputs.LON0, inputs.LAT0, m["extent"]
        for fname, t in sorted(labels.items(), key=lambda kv: kv[1]):
            arr, tags = read_geotiff(os.path.join(check_dir, fname))
            ulx, res, _, uly, _, _ = geotransform_of(tags)
            cx = ulx + (np.arange(arr.shape[1]) + 0.5) * res
            cy = uly - (np.arange(arr.shape[0]) + 0.5) * res
            lon, lat = np.meshgrid(cx, cy)
            want = inputs.linear_field(m, t, lon, lat)
            fin = np.isfinite(arr)
            bad = np.abs(arr[fin] - want[fin]) > 1e-6 * (1 + np.abs(want[fin]))
            if bad.any():
                errors.append(f"{fname}: {int(bad.sum())} pixels off the "
                              "analytic field")
            inside = ((lon > lon0 + 2 * s) & (lon < lon0 + extent - 2 * s)
                      & (lat > lat0 + 2 * s) & (lat < lat0 + extent - 2 * s))
            hole = np.zeros_like(inside)
            for dx, dy, r in m["discs"]:
                d2 = (lon - dx) ** 2 + (lat - dy) ** 2
                inside &= d2 > (r + 2 * s) ** 2
                hole |= d2 < (r - 2 * s) ** 2
            if not fin[inside].all():
                errors.append(f"{fname}: {int((~fin[inside]).sum())} "
                              "in-domain pixels are not finite")
            if fin[hole].any():
                errors.append(f"{fname}: {int(fin[hole].sum())} pixels "
                              "inside a hole carry a value")
        return errors

    def trace_extras(self, spark, ctx, job_dir, tracer) -> dict:
        """Layers the job fuses: regrid() alone into a noop sink, and
        the GeoTIFF encoder on a seeded 2000 x 2000 array."""
        import time

        from adcirctime2cogs_spark.plans.grid import (
            bounding_box,
            grid_spec_from_bbox,
            raster_cells,
        )
        from adcirctime2cogs_spark.plans.regrid import regrid
        from adcirctime2cogs_spark.plans.weights import build_weights
        from adcirctime2cogs_spark.sinks.geotiff import write_geotiff
        from adcirctime2cogs_spark.sources.mesh import (
            load_mesh,
            load_timeseries,
        )

        staging = os.path.join(job_dir, "output", "_tables")
        nodes, elements = load_mesh(spark, staging)
        tsv = load_timeseries(spark, staging, self.variable)
        res = self.extent / self.raster
        spec = grid_spec_from_bbox(bounding_box(nodes), res)
        # the bin size run_pipeline uses (4 cells)
        weights = build_weights(raster_cells(spark, spec), nodes, elements,
                                bin_size=res * 4.0).cache()
        weights.count()
        try:
            # the shuffle join, as the CLI picks above the broadcast cut
            with tracer.span("regrid.exec") as sp:
                regrid(weights, tsv).write.format("noop").mode(
                    "overwrite").save()
        finally:
            weights.unpersist()

        arr = np.random.default_rng(ctx["seed"]).normal(size=(2000, 2000))
        path = os.path.join(job_dir, "geotiff_probe.tif")
        t = time.perf_counter()
        write_geotiff(path, arr, [0.0, 1e-3, 0.0, 0.0, 0.0, -1e-3])
        encode_s = time.perf_counter() - t
        return {"regrid_span": sp["id"], "regrid_s": sp["end"] - sp["start"],
                "encode_mb_per_s": arr.nbytes / 1e6 / encode_s}

    def output_bytes(self, out: dict) -> int:
        return os.path.getsize(out["zip"])

    def layers(self, ctx, spans, groups, jobs, traced, extras) -> dict:
        """Regrid layer metrics of the traced warm job jobs[traced]."""
        warm = tracing.by_name(spans, f"job{traced}")
        out = jobs[traced]["out"]

        def engine(named):
            return tracing.engine_totals(groups, [sp["id"] for sp in named])

        cog_max, cog_median = tracing.task_stats(
            engine(warm["cog.write"])["result_task_s"])
        digests = [_digests(j["out"]["cog_dir"]) for j in jobs]
        tifs = [os.path.join(out["cog_dir"], f) for f in digests[traced]]
        staged = os.path.join(out["staging"], f"{self.variable}.parquet")
        return {
            "sources.ingest_s": tracing.duration(warm, "sources.ingest"),
            "sources.input_bytes": ctx["input_bytes"],
            "sources.rows_out": _parquet_rows(staged),
            "grid.bbox_s": tracing.duration(
                warm, "grid.bounding_box", "grid.spec", "grid.raster_cells"),
            "weights.build_s": tracing.duration(
                warm, "weights.plan", "weights.materialize"),
            "weights.cells_out": warm["weights.materialize"][0]["result"],
            "weights.shuffle_bytes": engine(
                warm["weights.materialize"])["shuffle_write_bytes"],
            "regrid.exec_s": extras["regrid_s"],
            "regrid.shuffle_bytes": tracing.engine_totals(
                groups, [extras["regrid_span"]])["shuffle_write_bytes"],
            "cog.write_s": tracing.duration(warm, "cog.write"),
            "cog.max_task_s": cog_max,
            "cog.median_task_s": cog_median,
            "cog.files": len(tifs),
            "cog.bytes": sum(os.path.getsize(p) for p in tifs),
            # repeats of one input that wrote different bytes: ideally 1
            "cog.distinct_digests": max(
                len({d.get(f) for d in digests}) for f in digests[traced]),
            "geotiff.encode_mb_per_s": extras["encode_mb_per_s"],
            "sidecar.zip_s": tracing.duration(
                warm, "sidecar.write", "sidecar.zip"),
        }


@dataclass(frozen=True)
class Corpus:
    """Documents table through the corpus-prep CLI, default stages."""

    name: str = "corpus"
    n_docs: int = 1000
    nominal_job_s: float = 12.0
    units_name: str = "docs"

    # Per-stage rows_out of the fixed corpus content (inputs.
    # corpus_documents) at n_docs = 1000. Only the row order depends on
    # the seed, so these must hold for every job and every seed.
    expected_rows = {"exact_dedup": 990, "quality": 875, "fuzzy_dedup": 841,
                     "decontaminate": 104, "pii_scrub": 104,
                     "source_cap": 32}

    def make_inputs(self, root: str, seed: int) -> dict:
        input_dir = os.path.join(root, "input")
        return {"input_dir": input_dir,
                "input_bytes": inputs.write_corpus(input_dir, seed,
                                                   self.n_docs)}

    def units(self, ctx: dict) -> int:
        """Input documents one job reads."""
        return self.n_docs

    def run_job(self, spark, ctx: dict, job_dir: str, tracer=None) -> dict:
        from adcirctime2cogs_spark import corpus_pipeline

        work_dir = os.path.join(job_dir, "work")
        out_dir = os.path.join(job_dir, "out")
        argv = ["--input-dir", ctx["input_dir"], "--work-dir", work_dir,
                "--out-dir", out_dir]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            if tracer is None:
                rc = corpus_pipeline.main(argv)
            else:
                with _patched(tracer, self._trace_targets()):
                    rc = corpus_pipeline.main(argv)
        if rc != 0:
            raise RuntimeError(f"corpus CLI exited with {rc}")
        manifest = json.loads(buf.getvalue().strip().splitlines()[-1])
        return {"manifest": manifest, "work_dir": work_dir,
                "out_dir": out_dir}

    @staticmethod
    def _trace_targets():
        from adcirctime2cogs_spark import corpus_pipeline
        from adcirctime2cogs_spark.sinks import shards

        return [
            (corpus_pipeline, "run_corpus_pipeline", "corpus.run", {}),
            (shards, "write_training_shards", "shards.write", {}),
        ]

    def check(self, ctx: dict, out: dict, check_dir: str) -> list[str]:
        """Per-stage row counts equal the fixed corpus's; shard doc_ids
        are unique and as many as the card's rows."""
        import pyarrow.parquet as pq

        manifest = out["manifest"]
        errors = []
        got = {s["stage"]: s["rows_out"] for s in manifest["stages"]}
        if got != self.expected_rows:
            errors.append(f"stage rows {got} != {self.expected_rows}")
        with open(manifest["card_path"]) as fh:
            card_rows = json.load(fh)["rows"]
        ids = []
        shard_dir = os.path.join(out["out_dir"], "shards")
        for root, _dirs, files in os.walk(shard_dir):
            for f in files:
                if f.endswith(".parquet"):
                    ids.extend(pq.read_table(os.path.join(root, f),
                                             columns=["doc_id"])
                               .column("doc_id").to_pylist())
        if len(ids) != len(set(ids)):
            errors.append(f"{len(ids) - len(set(ids))} duplicate doc_ids "
                          "in the shards")
        if len(ids) != card_rows:
            errors.append(f"shards hold {len(ids)} rows, card says "
                          f"{card_rows}")
        return errors

    def output_bytes(self, out: dict) -> int:
        return (_dir_bytes(os.path.join(out["out_dir"], "shards"), ".parquet")
                + os.path.getsize(out["manifest"]["card_path"]))

    def trace_extras(self, spark, ctx, job_dir, tracer) -> dict:
        return {}

    def layers(self, ctx, spans, groups, jobs, traced, extras) -> dict:
        """Corpus stage metrics of the traced warm job, from the manifest
        the pipeline returns."""
        out = jobs[traced]["out"]
        manifest = out["manifest"]
        m = {}
        for st in manifest["stages"]:
            m[f"corpus.{st['stage']}_s"] = st["wall_sec"]
            m[f"corpus.{st['stage']}.rows_out"] = st["rows_out"]
        m["corpus.emit_s"] = manifest["emit_wall_sec"]
        # stage checkpoint write amplification
        m["corpus.bytes_written_per_input_byte"] = (
            _dir_bytes(out["work_dir"], ".parquet") / ctx["input_bytes"])
        return m


WORKLOADS = {w.name: w for w in (Forecast(), Corpus())}


def warm_jobs(workload, seconds: int) -> int:
    """Warm jobs per process: fixed by --seconds and the workload's
    nominal job wall, never by how fast this run happens to go, so the
    number of jobs (and with it in-session drift) is the same on every
    commit."""
    return max(1, math.floor(seconds / workload.nominal_job_s + 0.5))
