"""FSST string-column codec (Spark wiring).

The reference has no string surface (its mmap loader reads raw numeric
arrays, src/ibp_api.cu:51-121); FSST is north-rule new work.  A symbol
table is learned once per snapshot on a driver-side sample, rides to
executors in the UDF closure (broadcast-variable semantics), and is
persisted as hex alongside the snapshot's params — so encoded string
columns written to disk remain decodable by later sessions, unlike a
per-batch table, which makes FSST a *storable* codec.  Stored
``doc_id``/``source`` columns are always FSST-encoded binary.

Encode and decode are Arrow stages (``operators/stages.py``).
:func:`encode_string_cols`/:func:`decode_string_cols` run one stage;
callers that chain string and token codecs either compose
:func:`encode_stage`/:func:`decode_stage` with the other stages in one
``stages.apply`` (the store write, ``fetch``, bench q7) or call the
functions one after the other: ``stages.apply`` composes onto an
unmodified, unpersisted stage output, so
``decode_string_cols(encode_string_cols(df))`` is one Python eval per
task too.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..codecs import fsst
from ..operators import stages
from ..operators.framing import binary_array_flat, gather_ranges


def table_to_hex(table: fsst.SymbolTable) -> str:
    """SymbolTable -> hex (9-byte records: len + 8 sym bytes)."""
    return table.to_bytes().hex()


def table_from_hex(s: str) -> fsst.SymbolTable:
    """Inverse of :func:`table_to_hex`."""
    return fsst.SymbolTable.from_bytes(bytes.fromhex(s))


def learn_table_df(df: DataFrame, cols=("doc_id", "source"),
                   sample_rows: int = 2048,
                   sample_bytes: int = 1_000_000,
                   seed: int = 11) -> fsst.SymbolTable:
    """Learn one symbol table from a driver-side SEEDED UNIFORM
    sample of the given string columns — a head-of-table slice would
    fit the table to one modality of an ingest-ordered corpus.
    Deterministic: seeded Bernoulli sample, then ordered by the first
    column (a bare limit is partition-order dependent)."""
    total = df.count()
    frac = min(1.0, 3.0 * sample_rows / max(total, 1))
    src = df.select(*cols)
    if frac < 1.0:
        src = src.sample(fraction=frac, seed=seed)
    pdf = src.orderBy(cols[0]).limit(3 * sample_rows).toPandas()
    if len(pdf) > sample_rows:  # seeded uniform thinning, NOT a head slice
        keep = np.sort(np.random.default_rng(seed).choice(
            len(pdf), sample_rows, replace=False))
        pdf = pdf.iloc[keep]
    texts: list[str] = []
    for c in cols:
        texts.extend(pdf[c].fillna("").astype(str).tolist())
    flat, lens = fsst.strings_to_flat(texts)
    # trim to the byte budget on a row boundary so symbol candidates
    # never span rows
    if flat.size > sample_bytes:
        cum = np.cumsum(lens)
        nrows = int(np.searchsorted(cum, sample_bytes, "right"))
        flat, lens = flat[:int(cum[nrows - 1]) if nrows else 0], lens[:nrows]
    return fsst.build_table(flat, sample_lens=lens)


def encode_id_literals(ids, table) -> list[bytes]:
    """FSST-encode a small list of id strings DRIVER-SIDE (same
    deterministic encoding the executors apply), returning the encoded
    bytes per id — the literal values a pushed-down ``IN`` predicate
    needs to match the stored binary doc_id column."""
    flat, lens = fsst.strings_to_flat([str(i) for i in ids])
    e, el = fsst.encode_strings(flat, lens, table)
    off = np.cumsum(el) - el
    return [e[int(o):int(o) + int(n)].tobytes()
            for o, n in zip(off, el)]


# Byte-mass sub-batching caps: Spark bounds Arrow batches by ROW count
# only, so a batch of hot rows could push a single output column past
# the 2 GiB int32-offset ceiling.  FSST encode expands a byte to at
# most 2 (escape marker); decode expands a code to at most 8 symbol
# bytes — the caps keep worst-case output columns far under the
# ceiling, and ``stages.offsets32`` stays as the final hard guard.
# Read when a stage is built.
_ENC_MASS_CAP = 512 << 20
_DEC_MASS_CAP = 192 << 20


def _fsst_stage(table: fsst.SymbolTable, cols, code, out_type: str,
                cap: int) -> stages.Stage:
    """A stage that rewrites each present column of ``cols`` with
    ``code(flat, lens, table)`` and keeps every other column.  Each
    column's bytes are read straight from the Arrow values buffer
    (possibly non-contiguous after slicing — compacted with one gather)
    and leave as a zero-copy Binary/String array; the table is
    closure-borne.  Sub-batches are bounded by the columns' byte mass."""
    def kernel(rb):
        names = rb.schema.names
        arrays = list(rb.columns)
        for c in cols:
            if c in names:
                i = names.index(c)
                flat, starts, lens = binary_array_flat(arrays[i])
                data, out_lens = code(gather_ranges(flat, starts, lens),
                                      lens, table)
                arrays[i] = stages.binary_col(data, out_lens,
                                              string=out_type == "string")
        return pa.RecordBatch.from_arrays(arrays, names=names)

    return stages.Stage(kernel, stages.retyped(cols, out_type),
                        stages.byte_mass(cols), cap)


def encode_stage(table: fsst.SymbolTable,
                 cols=("doc_id", "source")) -> stages.Stage:
    """FSST encode of string ``cols`` to binary twins (same names), as a
    composable stage; sub-batched by UTF-8 byte mass up to
    ``_ENC_MASS_CAP``."""
    return _fsst_stage(table, cols, fsst.encode_strings, "binary",
                       _ENC_MASS_CAP)


def decode_stage(table: fsst.SymbolTable,
                 cols=("doc_id", "source")) -> stages.Stage:
    """Inverse of :func:`encode_stage`; sub-batched by ENCODED byte
    mass up to ``_DEC_MASS_CAP`` (decode expands up to 8x)."""
    return _fsst_stage(table, cols, fsst.decode_strings, "string",
                       _DEC_MASS_CAP)


def encode_string_cols(df: DataFrame, table: fsst.SymbolTable,
                       cols=("doc_id", "source")) -> DataFrame:
    """Replace string columns with their FSST-encoded binary twins
    (same names) in one Arrow stage.  Compose :func:`encode_stage`
    with other stages through ``stages.apply`` to share one Python
    eval."""
    return stages.apply(df, encode_stage(table, cols))


def decode_string_cols(df: DataFrame, table: fsst.SymbolTable,
                       cols=("doc_id", "source")) -> DataFrame:
    """Inverse of :func:`encode_string_cols` (one Arrow stage; decoded
    UTF-8 leaves as a zero-copy StringArray)."""
    return stages.apply(df, decode_stage(table, cols))
