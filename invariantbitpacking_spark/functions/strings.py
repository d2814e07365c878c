"""FSST string-column codec (Spark wiring).

The reference has no string surface (its mmap loader reads raw numeric
arrays, src/ibp_api.cu:51-121); FSST is north-rule new work.  A symbol
table is learned once per snapshot on a driver-side sample, rides to
executors in the UDF closure (broadcast-variable semantics), and is
persisted as hex alongside the snapshot's params — so encoded string
columns written to disk remain decodable by later sessions, unlike a
per-batch table, which makes FSST a *storable* codec.  Stored
``doc_id``/``source`` columns are always FSST-encoded binary.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..codecs import fsst


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


def _offsets32(byte_lens: np.ndarray, n: int) -> np.ndarray:
    """int32 Arrow offset buffer from per-row byte lengths, guarded:
    a batch whose total bytes exceed INT32_MAX would silently wrap the
    offsets and corrupt the output array."""
    off = np.zeros(n + 1, np.int64)
    np.cumsum(byte_lens, out=off[1:])
    if off[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"string batch holds {int(off[-1])} bytes, over the 2 GiB "
            "Arrow int32-offset limit; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    return off.astype(np.int32)


def _schema_with(df: DataFrame, cols, new_type: str) -> str:
    return ", ".join(
        f"{f.name} {new_type if f.name in cols else f.dataType.simpleString()}"
        for f in df.schema.fields)


# Byte-mass sub-batching caps: Spark bounds Arrow batches by ROW count
# only, so a batch of hot rows could push a single output column past
# the 2 GiB int32-offset ceiling.  FSST encode expands a byte to at
# most 2 (escape marker); decode expands a code to at most 8 symbol
# bytes — the caps keep worst-case output columns far under the
# ceiling, and _offsets32 stays as the final hard guard.
_ENC_MASS_CAP = 512 << 20
_DEC_MASS_CAP = 192 << 20


def _string_mass_ranges(rb, names, cols, cap):
    """Row ranges of an Arrow batch bounded by the target string/binary
    columns' total byte mass (``ibp._mass_ranges`` over byte lengths
    instead of token counts)."""
    from ..operators.ibp import _mass_ranges, binary_array_flat

    mass = np.zeros(rb.num_rows, np.int64)
    for c in cols:
        _, _, lens = binary_array_flat(rb.column(names.index(c)))
        mass += lens
    return _mass_ranges(mass, cap)


# Fusion tag: encode_string_cols marks its RESULT DataFrame with the
# (source df, table bytes, cols) it was built from; decode_string_cols
# fuses a DIRECT decode-of-encode composition into ONE mapInArrow that
# runs both kernels in a single Python eval.  The per-task Python
# runner protocol costs ~10 ms per eval on this box (measured: a
# warm PASSTHROUGH mapInArrow over 64 partitions is 0.73 s wall while
# the FSST kernels are ~3 ms/task), so a chained enc->dec pays the
# boundary twice for string payloads that are a few KB per task.  The
# tag lives on the exact returned object only — any intervening
# transformation produces a new DataFrame without it, so fusion never
# fires across filters/projections.  Both kernels still run
# per batch; only the redundant JVM<->Python round trip is removed
# (guide §4: control how many times columns cross the boundary).
_FUSE_TAG = "_ibp_fsst_encode_of"


def encode_string_cols(df: DataFrame, table: fsst.SymbolTable,
                       cols=("doc_id", "source"),
                       mass_cap: int | None = None) -> DataFrame:
    """Replace string columns with their FSST-encoded binary twins
    (same names).  One ``mapInArrow`` pass: each column's UTF-8 bytes
    are read straight from the Arrow values buffer (possibly
    non-contiguous after slicing — compacted with one gather) and the
    encoded bytes leave as a zero-copy BinaryArray; the table is
    closure-borne.  Batches whose string byte mass exceeds
    ``mass_cap`` (default ``_ENC_MASS_CAP``) degrade to multiple
    sub-batches instead of tripping the int32-offset guard."""
    cols = tuple(c for c in cols if c in df.columns)
    cap = _ENC_MASS_CAP if mass_cap is None else mass_cap

    def enc(batches):
        import pyarrow as pa

        from ..operators.framing import gather_ranges
        from ..operators.ibp import binary_array_flat

        for rb in batches:
            names = rb.schema.names
            for i0, i1 in _string_mass_ranges(rb, names, cols, cap):
                sl = rb.slice(i0, i1 - i0)
                arrays = list(sl.columns)
                n = sl.num_rows
                for c in cols:
                    i = names.index(c)
                    flat, starts, lens = binary_array_flat(arrays[i])
                    flat = gather_ranges(flat, starts, lens)  # compact
                    e, el = fsst.encode_strings(flat, lens, table)
                    e_off = _offsets32(el, n)
                    arrays[i] = pa.BinaryArray.from_buffers(
                        pa.binary(), n,
                        [None, pa.py_buffer(e_off), pa.py_buffer(e)])
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    out = df.mapInArrow(enc, schema=_schema_with(df, cols, "binary"))
    setattr(out, _FUSE_TAG, (df, table_to_hex(table), cols, cap))
    return out


def decode_string_cols(df: DataFrame, table: fsst.SymbolTable,
                       cols=("doc_id", "source"),
                       mass_cap: int | None = None) -> DataFrame:
    """Inverse of :func:`encode_string_cols` (``mapInArrow``; decoded
    UTF-8 leaves as a zero-copy StringArray).  Sub-batches by ENCODED
    byte mass (default ``_DEC_MASS_CAP`` — decode expands up to 8x).

    A decode applied DIRECTLY to an encode's result with the same
    table fuses into one Python eval (see ``_FUSE_TAG``)."""
    fuse = getattr(df, _FUSE_TAG, None)
    if (fuse is not None and fuse[1] == table_to_hex(table)
            and set(c for c in cols if c in df.columns) == set(fuse[2])):
        return _roundtrip_string_cols(fuse[0], table, fuse[2], fuse[3],
                                      mass_cap)
    cols = tuple(c for c in cols if c in df.columns)
    cap = _DEC_MASS_CAP if mass_cap is None else mass_cap

    def dec(batches):
        import pyarrow as pa

        from ..operators.framing import gather_ranges
        from ..operators.ibp import binary_array_flat

        for rb in batches:
            names = rb.schema.names
            for i0, i1 in _string_mass_ranges(rb, names, cols, cap):
                sl = rb.slice(i0, i1 - i0)
                arrays = list(sl.columns)
                n = sl.num_rows
                for c in cols:
                    i = names.index(c)
                    flat, starts, lens = binary_array_flat(arrays[i])
                    flat = gather_ranges(flat, starts, lens)  # compact
                    d, dl = fsst.decode_strings(flat, lens, table)
                    d_off = _offsets32(dl, n)
                    arrays[i] = pa.StringArray.from_buffers(
                        n, pa.py_buffer(d_off), pa.py_buffer(d))
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(dec, schema=_schema_with(df, cols, "string"))


def _roundtrip_string_cols(df: DataFrame, table: fsst.SymbolTable, cols,
                           enc_cap: int, dec_mass_cap: int | None
                           ) -> DataFrame:
    """Fused encode-then-decode of string columns in ONE ``mapInArrow``
    (see ``_FUSE_TAG``): both kernels run per batch exactly as the
    two-pass plan would — same sub-batching by UTF-8 byte mass, same
    table — but the encoded bytes stay inside the Python worker
    instead of crossing the JVM boundary twice."""

    def rt(batches):
        import pyarrow as pa

        from ..operators.framing import gather_ranges
        from ..operators.ibp import binary_array_flat

        for rb in batches:
            names = rb.schema.names
            for i0, i1 in _string_mass_ranges(rb, names, cols, enc_cap):
                sl = rb.slice(i0, i1 - i0)
                arrays = list(sl.columns)
                n = sl.num_rows
                for c in cols:
                    i = names.index(c)
                    flat, starts, lens = binary_array_flat(arrays[i])
                    flat = gather_ranges(flat, starts, lens)  # compact
                    e, el = fsst.encode_strings(flat, lens, table)
                    _offsets32(el, n)  # same guard as the two-pass plan
                    d, dl = fsst.decode_strings(e, el, table)
                    d_off = _offsets32(dl, n)
                    arrays[i] = pa.StringArray.from_buffers(
                        n, pa.py_buffer(d_off), pa.py_buffer(d))
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(rt, schema=_schema_with(df, cols, "string"))
