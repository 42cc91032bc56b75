"""ADCIRC NetCDF as a native Spark 4 Python DataSource.

`scan_netcdf_split` (netcdf.py) composes the per-timestep byte-range
scan out of spark.range + mapInArrow over driver-packed splits; this
module packages the same splits as a first-class
`spark.read.format("adcirc_netcdf")` source (PySpark 4's DataSource API), so the scan participates in Spark's
source machinery directly: one InputPartition per (file, timestep)
byte-range split, Arrow RecordBatch output, schema declared up front.

    spark.dataSource.register(AdcircNetCDFDataSource)
    df = (spark.read.format("adcirc_netcdf")
          .option("path", "/data/fort.63.nc")
          .option("variable", "zeta")
          .load())

Decoder injection mirrors netcdf.py: the container has no NetCDF
library, so `splitter` / `range_decoder` callables may be passed to the
constructor-bound class via `with_codecs` (cloudpickle ships them to
the python workers with the DataSource instance); the defaults gate on
the missing dependency with a clear error. Reference semantics:
per-timestep chunking = chunks={'time': 1}
(run/utilities/adcirc_dask_utilities.py:42).
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from adcirctime2cogs_spark.sources.netcdf import (
    TIMESERIES_OUT_SCHEMA,
    _default_range_decoder,
    _default_splitter,
)


class _TimestepSplit(InputPartition):
    def __init__(self, path: str, t_idx: int, offset: int, nbytes: int):
        self.path = path
        self.t_idx = t_idx
        self.offset = offset
        self.nbytes = nbytes


class _NetCDFReader(DataSourceReader):
    def __init__(
        self,
        options: dict,
        splitter: Callable,
        range_decoder: Callable,
    ):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("adcirc_netcdf requires .option('path', ...)")
        self.variable = options.get("variable", "zeta")
        self.splitter = splitter
        self.range_decoder = range_decoder

    def partitions(self):
        """One InputPartition per (file, timestep) — planned driver-side
        from file metadata, exactly like FileSourceScanExec split
        planning; no file content is read here beyond the splitter's
        header probe."""
        paths = sorted(_glob.glob(self.path))
        if not paths and os.path.exists(self.path):
            # the literal filename contains glob metacharacters (e.g.
            # /data/run[2020]/fort.63.nc) but the file itself exists —
            # read it rather than mis-parsing the name as a pattern
            paths = [self.path]
        if not paths:
            # Never fall back to treating the glob pattern itself as a
            # file path — os.path.getsize on the raw pattern raises a
            # baffling FileNotFoundError. (The STREAM reader returns
            # empty for the same case because files may arrive later;
            # a batch scan over zero files is almost always a typo.)
            raise FileNotFoundError(
                f"adcirc_netcdf: no files matched path pattern {self.path!r}"
            )
        from adcirctime2cogs_spark.sources.netcdf import plan_splits

        return [
            _TimestepSplit(p, int(t), int(off), int(nb))
            for p in paths
            for (t, off, nb) in plan_splits(
                self.splitter, p, os.path.getsize(p), self.variable
            )
        ]

    def read(self, split: _TimestepSplit) -> Iterator[tuple]:
        from datetime import timezone

        ts, node_ids, values = self.range_decoder(
            split.path, self.variable, split.t_idx, split.offset, split.nbytes
        )
        # the Arrow bridge wants tz-aware stamps; decoders naturally
        # return naive UTC (NetCDF time axes carry no zone). xarray
        # decoders return numpy.datetime64 (no .replace) — normalize
        # through pandas first.
        if not hasattr(ts, "tzinfo"):
            import pandas as pd

            ts = pd.Timestamp(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        for node_id, value in zip(node_ids, values):
            v = float(value)
            # NaN fill values -> SQL null at ingest (reference masked
            # array semantics, run/utilities/adcirc_utilities.py:30)
            yield ts, int(node_id), (None if v != v else v)


class AdcircNetCDFDataSource(DataSource):
    """`format("adcirc_netcdf")` — per-timestep partitioned scan."""

    _splitter = staticmethod(_default_splitter)
    _range_decoder = staticmethod(_default_range_decoder)

    @classmethod
    def name(cls) -> str:
        return "adcirc_netcdf"

    def schema(self) -> str:
        return TIMESERIES_OUT_SCHEMA

    def reader(self, schema) -> _NetCDFReader:
        return _NetCDFReader(self.options, self._splitter, self._range_decoder)

    def simpleStreamReader(self, schema) -> "_NetCDFStreamReader":
        return _NetCDFStreamReader(
            self.options, self._splitter, self._range_decoder
        )

    @classmethod
    def with_codecs(
        cls, splitter: Callable, range_decoder: Callable
    ) -> type["AdcircNetCDFDataSource"]:
        """A registerable subclass with injected split/decode callables
        (the no-NetCDF-library test path, and the hook for xarray/h5py
        codecs on equipped hosts)."""
        return type(
            "AdcircNetCDFDataSourceInjected",
            (cls,),
            {
                "_splitter": staticmethod(splitter),
                "_range_decoder": staticmethod(range_decoder),
            },
        )


class _NetCDFStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader over an arriving-NetCDF directory.

    Offset = {"consumed": {file_path: n_splits_read}} — new files
    and newly-planned splits of known files become the next batch
    (one split per record for classic files — see _plan's merge).
    Replay between committed offsets re-decodes exactly the same
    byte ranges (splits are deterministic per file), giving the
    exactly-once recovery contract for free."""

    def __init__(self, options: dict, splitter: Callable, range_decoder: Callable):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("adcirc_netcdf requires .option('path', ...)")
        self.variable = options.get("variable", "zeta")
        self.splitter = splitter
        self.range_decoder = range_decoder

    @staticmethod
    def _is_classic_nc3(p: str) -> bool:
        """Signature probe: classic NetCDF-3 files begin 'CDF' + a
        version byte in {1, 2, 5} (CDF-1/-2/-5). Anything else —
        the \\x89HDF\\r\\n\\x1a\\n HDF5 superblock of NetCDF-4, or an
        injected test fixture — is not classic."""
        try:
            with open(p, "rb") as fh:
                magic = fh.read(4)
        except OSError:
            return False
        return magic[:3] == b"CDF" and magic[3:4] in (b"\x01", b"\x02", b"\x05")

    def _plan(self, p: str, length: int):
        """Streaming split plan: for CLASSIC NetCDF-3 files only,
        contiguous same-record sub-splits are MERGED back into one
        span, because the checkpoint offset is a per-file SPLIT
        COUNT — if the planner's granularity changed between a commit
        and its replay (e.g. the batch path's node-range sub-splitting
        of large classic records), a resumed stream would re-emit or
        skip rows. Merging keeps the classic count at one split per
        record across planner versions; a micro-batch decodes a record
        in one task, which is the right trade for incremental file
        arrival anyway.

        NetCDF-4 (and injected-codec) splits pass through UNMERGED:
        their count is a stable property of the file's chunk layout,
        and adjacent compressed chunks of one record are often
        byte-contiguous (the writer packs blobs back to back), so a
        merged span would no longer match any chunk in the file's
        index and nc4_range_decoder would refuse it (ADVICE r07). The
        classic/NC4 routing is decided by the file signature, not the
        splitter, so an injected splitter is never merged either."""
        from adcirctime2cogs_spark.sources.netcdf import plan_splits

        splits = sorted(plan_splits(self.splitter, p, length, self.variable))
        if not self._is_classic_nc3(p):
            return splits
        merged: list[tuple[int, int, int]] = []
        for t, off, nb in splits:
            if merged and merged[-1][0] == t and \
                    merged[-1][1] + merged[-1][2] == off:
                merged[-1] = (t, merged[-1][1], merged[-1][2] + nb)
            else:
                merged.append((t, off, nb))
        return merged

    def initialOffset(self) -> dict:
        return {"consumed": {}}

    def _splits_by_file(self) -> dict[str, list[tuple[int, int, int]]]:
        out: dict[str, list[tuple[int, int, int]]] = {}
        for p in sorted(_glob.glob(self.path)):
            try:
                size = os.path.getsize(p)
            except OSError:
                # rotated/deleted between listing and stat: skip this
                # trigger; it is re-listed (or permanently gone) next
                continue
            out[p] = sorted(self._plan(p, size))
        return out

    def _decode_rows(self, path: str, splits) -> Iterator[tuple]:
        from datetime import timezone

        for t, off, nb in splits:
            ts, node_ids, values = self.range_decoder(
                path, self.variable, int(t), int(off), int(nb)
            )
            if not hasattr(ts, "tzinfo"):
                import pandas as pd

                ts = pd.Timestamp(ts)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            for node_id, value in zip(node_ids, values):
                v = float(value)
                yield ts, int(node_id), (None if v != v else v)

    def read(self, start: dict):
        consumed = dict(start.get("consumed", {}))
        rows: list[tuple] = []
        for path, splits in self._splits_by_file().items():
            done = consumed.get(path, 0)
            fresh = splits[done:]
            if fresh:
                rows.extend(self._decode_rows(path, fresh))
                consumed[path] = done + len(fresh)
        return iter(rows), {"consumed": consumed}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        s = start.get("consumed", {})
        for path, n_end in end.get("consumed", {}).items():
            n_start = s.get(path, 0)
            if n_end > n_start:
                try:
                    size = os.path.getsize(path)
                except OSError as exc:
                    # a COMMITTED file was deleted before replay: the
                    # data is genuinely unrecoverable — fail with a
                    # clear message instead of a bare FileNotFoundError
                    # deep inside the offset math
                    raise RuntimeError(
                        f"adcirc_netcdf replay: committed file {path!r} "
                        "no longer exists; its rows cannot be recovered"
                    ) from exc
                splits = sorted(self._plan(path, size))[n_start:n_end]
                yield from self._decode_rows(path, splits)
