"""One Arrow boundary for every per-row operator.

Each per-row operator in the engine takes one value per input row
and returns 0..N output rows that carry that row's keys. ``arrow_map``
is that shape, written once: a ``mapInArrow`` stage that feeds the
value column to a plain Python function, builds the output columns
as pyarrow arrays (no pandas), and copies the keys across with a
``take`` on the input batch. The decoders themselves stay
bytes/str-level functions with their own "never raises" contracts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

#: column name the value reaches the Arrow batch under (it may be an
#: expression, or the key column itself)
_IN = "__arrow_map_in"


def _pa_arr(vals, typ):
    """pa.array with a lone-surrogate fallback: the reference's
    byte-granular entity decoder can emit strings that are not valid
    Unicode (bug-for-bug surrogate chop, entities.py); Arrow rejects
    them with UnicodeEncodeError, which would kill the whole task for
    one pathological document. The happy path pays nothing; on
    failure each offending string degrades to U+FFFD replacement
    (the only representable form in parquet/Arrow anyway).
    """
    import pyarrow as pa

    def fix(v):
        if isinstance(v, str):
            try:
                v.encode("utf-8")
                return v
            except UnicodeEncodeError:
                return (v.encode("utf-16", "surrogatepass")
                        .decode("utf-16", "replace"))
        if isinstance(v, list):
            return [fix(x) for x in v]
        if isinstance(v, dict):
            return {fix(k): fix(x) for k, x in v.items()}
        return v

    try:
        return pa.array(vals, typ)
    except UnicodeEncodeError:
        return pa.array([fix(v) for v in vals], typ)


def arrow_map(df: DataFrame, keys, in_col: str | Column,
              schema: T.StructType, fn) -> DataFrame:
    """Per-row map over ``df`` in one ``mapInArrow`` stage, no shuffle.

    ``keys`` name the input columns that become the first
    ``len(keys)`` fields of ``schema``; each is cast to that field's
    type. ``fn(value)`` gets the ``in_col`` value of one row (a
    column name or expression) and yields one tuple per output row
    holding the fields after the keys; a 1:1 decoder yields exactly
    one. A NULL value reaches ``fn`` as its type's empty value, ``""``
    for strings and ``b""`` for binary, so a missing payload gives the
    same rows as an empty one.
    """
    nk = len(keys)
    names = schema.fieldNames()
    val_types = [to_arrow_type(f.dataType) for f in schema.fields[nk:]]

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            col = rb.column(nk)
            if col.null_count:
                if pa.types.is_string(col.type):
                    col = col.fill_null("")
                elif pa.types.is_binary(col.type):
                    col = col.fill_null(b"")
            idx: list[int] = []
            rows: list[tuple] = []
            for i, v in enumerate(col.to_pylist()):
                for row in fn(v):
                    idx.append(i)
                    rows.append(row)
            if rows:
                take = pa.array(idx, pa.int32())
                yield pa.RecordBatch.from_arrays(
                    [rb.column(j).take(take) for j in range(nk)]
                    + [_pa_arr(list(c), t)
                       for c, t in zip(zip(*rows), val_types)],
                    names=names)

    value = F.col(in_col) if isinstance(in_col, str) else in_col
    return df.select(
        *[F.col(k).cast(f.dataType).alias(f.name)
          for k, f in zip(keys, schema.fields)],
        value.alias(_IN)).mapInArrow(run, schema)


PAYLOAD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])


def synth_payloads(df: DataFrame, key_col: str, build) -> DataFrame:
    """(doc_id, payload) fixture blobs, ``build(doc_id)`` per row: the
    shape of every ``synth_*`` generator whose input is the key."""
    return arrow_map(df, [key_col], F.col(key_col).cast("long"),
                     PAYLOAD_SCHEMA, lambda d: ((build(d),),))
