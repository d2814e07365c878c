"""Arrow stages: the one place the codec layer crosses into Python.

Every codec UDF is the same wrapper around a numpy block kernel: take
an Arrow batch, cut it into sub-batches by per-row mass (Spark bounds
Arrow batches by ROW count only, so a batch of long documents could
otherwise materialize multi-GB framing buffers), run the kernel over
flat buffers, emit a RecordBatch.  A :class:`Stage` is that kernel plus
its mass rule and its output-schema rule; :func:`apply` runs a chain of
stages as ONE ``mapInArrow``.

Composition is structural: ``apply(df, *more)``, where ``df`` is the
unmodified output of an earlier ``apply(src, *first)``, returns
``apply(src, *first, *more)`` -- one Python eval per task where two
calls would cross the JVM<->Python boundary twice ("Accelerating Python
UDFs in Vectorized Query Execution", CIDR'22: per-call overhead
dominates small vectors).  So ``decode_auto(read_encoded(s), params)``
and ``decode_auto(encode_auto(df, params), params)`` are one eval each.
It fires on nothing else: a ``filter``/``select``/``withColumn``/union
of the output is a new frame that carries no chain, and
``cache()``/``persist()`` mark the output itself (``df.is_cached``), so
each keeps two evals and a user's cache is never bypassed.  (The
check runs when the second call builds its frame: persist the output
before that call, not after it.)  The
composed result equals the two-call result in schema and rows: the
input keeps the earlier call's projection, every projecting stage is
handed exactly its ``reads`` (zero-copy ``RecordBatch.select``), as the
second call's ``select`` would hand them, and each stage still
sub-batches its own input by its own mass and cap.  Unlike the
FSST-only fusion tag this layer once had, which fired when two string
calls shared a symbol table, the rule belongs to the stage layer and
serves every stage.

The per-task floor of that boundary is mostly import bookkeeping, not
data: a reused PySpark worker calls ``importlib.invalidate_caches()``
at the start of every task, and before CPython 3.13 each of its ~17
zipimporters (pyspark.zip's 1328 entries and its sub-packages, py4j,
the shipped engine zip) re-reads its archive's whole directory on that
call.  :func:`apply`'s worker-side chain installs 3.13's lazy re-read
(:func:`install_lazy_zip_invalidation`), so a reused worker pays that
only in its first engine task.  Python CPU of a passthrough eval,
measured on a 4-core VM: 0.68-0.88 CPU-s at 4 tasks and 3.3-3.8 at 16
without it (~0.2 per task, whatever the data size); 0.07-0.10 and
0.26-0.35 with it (~0.02 per task).
"""

from __future__ import annotations

import sys
import zipimport
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from .framing import binary_array_flat


@dataclass(frozen=True)
class Stage:
    """One numpy kernel over one sub-batch.

    ``kernel(rb)`` maps a sub-batch to a RecordBatch (or a Table, or
    None for no output).  ``schema`` maps the input StructType to the
    output StructType, on the driver.  ``reads`` names the columns a
    projecting stage needs; ``None`` marks a stage that keeps every
    input column.  ``mass(rb)`` gives per-row mass, and consecutive
    rows are grouped into sub-batches of about ``cap`` mass (see
    :func:`mass_ranges`); a kernel is row-wise, so the grouping never
    changes its output rows."""

    kernel: Callable
    schema: Callable[[StructType], StructType]
    mass: Callable
    cap: int
    reads: tuple[str, ...] | None = None


def apply(df: DataFrame, *stages: Stage) -> DataFrame:
    """Run ``stages`` in order as ONE ``mapInArrow`` over ``df``.  The
    input is projected to the first projecting stage's ``reads``
    (stages before it keep every column they are handed), and every
    projecting stage is handed exactly its ``reads``.  A ``df`` that
    an earlier ``apply`` returned, not persisted, composes into that
    call's chain (see the module docstring)."""
    link = vars(df).get(_CHAIN)
    if link is not None and not df.is_cached:
        df, reads, first = link
        stages = first + stages
    else:
        reads = next((s.reads for s in stages if s.reads is not None), None)
    src = df if reads is None else df.select(*reads)
    schema = src.schema
    for s in stages:
        if s.reads is not None:
            schema = StructType([schema[c] for c in s.reads])
        schema = s.schema(schema)

    def chain(batches):
        install_lazy_zip_invalidation()
        for s in stages:
            if s.reads is not None:
                batches = _selected(s.reads, batches)
            batches = _sub_batched(s, batches)
        return batches

    out = src.mapInArrow(chain, schema=schema)
    if out is not None:  # a stand-in frame may return nothing
        vars(out)[_CHAIN] = (df, reads, stages)
    return out


# (source frame, its projection, stages) an apply() output maps from
_CHAIN = "_ibp_stage_chain"


def _selected(cols, batches):
    for rb in batches:
        yield rb.select(cols)


def _sub_batched(stage: Stage, batches):
    for rb in batches:
        n = rb.num_rows
        for i0, i1 in mass_ranges(stage.mass(rb), stage.cap):
            out = stage.kernel(rb if i1 - i0 == n else rb.slice(i0, i1 - i0))
            if isinstance(out, pa.Table):
                yield from out.to_batches()
            elif out is not None:
                yield out


def mass_ranges(mass: np.ndarray, cap: int):
    """Sub-batch boundaries [(i0, i1), ...] of one Arrow batch bounded
    by total per-row ``mass`` (token counts, byte lengths, ...): a
    sub-batch holds less than ``cap`` plus its first row's mass, so a
    single row heavier than ``cap`` stays whole."""
    n = len(mass)
    if n == 0 or int(mass.sum()) <= cap:
        return [(0, n)]
    bucket = np.cumsum(mass) // cap
    brk = np.flatnonzero(np.diff(bucket)) + 1
    bounds = [0, *brk.tolist(), n]
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)
            if bounds[i] < bounds[i + 1]]


# -- worker-side import caches ---------------------------------------------

def install_lazy_zip_invalidation() -> None:
    """Backport CPython 3.13's lazy ``zipimporter.invalidate_caches`` to
    this process: invalidating drops the archive's cached directory, and
    the next lookup through any importer of that archive reads it back
    once.  Before 3.13 every importer re-reads it on every call, which
    is most of a reused worker's per-task CPU (see the module
    docstring).  A no-op on 3.13+ and when already installed."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or zi.invalidate_caches is _drop_directory:
        return
    zipimport._zip_directory_cache = _DirectoryCache(
        zipimport._zip_directory_cache)
    # free the per-importer directory copies the stdlib method left
    for imp in sys.path_importer_cache.values():
        if isinstance(imp, zi):
            vars(imp).pop("_files", None)
    # ``__init__`` assigns ``_files`` after caching it; the setter ignores it
    zi._files = property(_directory, lambda self, files: None)
    zi.invalidate_caches = _drop_directory


class _DirectoryCache(dict):
    """``zipimport._zip_directory_cache`` that reads a dropped archive's
    directory back on first lookup, also for ``pkgutil``, which indexes
    the cache directly."""

    def __missing__(self, archive):
        files = self[archive] = zipimport._read_directory(archive)
        return files


def _directory(self):
    try:
        return zipimport._zip_directory_cache[self.archive]
    except zipimport.ZipImportError:
        return {}


def _drop_directory(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


# -- schema rules ----------------------------------------------------------

def fixed(ddl: str) -> Callable[[StructType], StructType]:
    """Schema rule of a stage whose output columns do not depend on its
    input."""
    return lambda _in: StructType.fromDDL(ddl)


def retyped(cols, new_type: str) -> Callable[[StructType], StructType]:
    """Schema rule of a stage that rewrites ``cols`` (those present) to
    ``new_type`` and keeps every other column."""
    def rule(in_schema: StructType) -> StructType:
        return StructType.fromDDL(", ".join(
            f"{f.name} {new_type if f.name in cols else f.dataType.simpleString()}"
            for f in in_schema.fields))
    return rule


# -- mass rules ------------------------------------------------------------

def list_mass(col: str) -> Callable:
    """Per-row element count of a list column (null rows weigh 0)."""
    def mass(rb):
        arr = rb.column(col)
        off = arr.offsets.to_numpy()
        lens = (off[1:] - off[:-1]).astype(np.int64)
        if arr.null_count:
            lens[arr.is_null().to_numpy(zero_copy_only=False)] = 0
        return lens
    return mass


def value_mass(col: str) -> Callable:
    """Per-row mass stored in an integer column (``n_tok``)."""
    return lambda rb: rb.column(col).to_numpy(
        zero_copy_only=False).astype(np.int64)


def byte_mass(cols) -> Callable:
    """Per-row total byte length of the string/binary ``cols`` present
    in the batch."""
    def mass(rb):
        total = np.zeros(rb.num_rows, np.int64)
        for c in cols:
            if c in rb.schema.names:
                total += binary_array_flat(rb.column(c))[2]
        return total
    return mass


# -- output columns --------------------------------------------------------

def offsets32(lens: np.ndarray, n: int) -> np.ndarray:
    """int32 Arrow offset buffer from per-row lengths, guarded: a batch
    whose total exceeds INT32_MAX would silently wrap the offsets and
    corrupt the output array."""
    off = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=off[1:])
    if off[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"batch column holds {int(off[-1])} values, over the 2 GiB "
            "Arrow int32-offset limit; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    return off.astype(np.int32)


def binary_col(data: np.ndarray, lens: np.ndarray, string: bool = False):
    """Binary (or UTF-8 string) array over one flat uint8 buffer."""
    n = len(lens)
    bufs = [None, pa.py_buffer(offsets32(lens, n)), pa.py_buffer(data)]
    if string:
        return pa.StringArray.from_buffers(n, bufs[1], bufs[2])
    return pa.BinaryArray.from_buffers(pa.binary(), n, bufs)


def list_col(values, lens: np.ndarray):
    """ListArray over one flat values array (a pyarrow array)."""
    off = offsets32(lens, len(lens))
    return pa.ListArray.from_arrays(pa.array(off, pa.int32()), values)
