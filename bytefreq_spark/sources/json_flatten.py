"""Nested JSON → dot-notation leaf paths (reference main.rs:116-192, S5).

The reference discovers leaf paths row-by-row as data streams; Spark knows the
full schema up front (``spark.read.json`` inference) — a semantic upgrade: the
"dynamic schema growth" becomes a driver-side recursion over ``df.schema``.

Array handling mirrors the reference: indexed paths ``a[0]``, ``a[1]`` by
default, or collapsed ``a[]`` (the ``-a`` flag, main.rs:150-168) via
``posexplode``.  The M6 quirk — JSON *strings* mask with their quotes
(``"NYC"`` → ``"AAA"``) while numbers mask bare — is reproduced by
``json_quote_col`` and is part of byte-exact reference behavior.

Depth quirk: the reference's ``--pathdepth`` limit is inert (recursion passes
``pathdepth+1`` instead of ``depth+1``, main.rs:144,165) → unlimited here too.
Arrays nested inside arrays are stringified (rare; documented deviation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, StringType, StructType

from ..profile import tally


def json_quote_col(c: Column, dtype) -> Column:
    """M6: stringify a leaf like serde_json ``Value::to_string()`` —
    strings keep surrounding quotes, numbers/bools bare, null → 'null'."""
    if isinstance(dtype, StringType):
        quoted = F.concat(F.lit('"'), c, F.lit('"'))
    elif isinstance(dtype, BooleanType):
        # two positive whens so a NULL boolean falls through to the coalesce
        # ('null'), matching serde_json — otherwise() would swallow NULL
        quoted = F.when(c, "true").when(~c, "false")
    elif isinstance(dtype, (StructType, ArrayType)):
        quoted = F.to_json(c)
    else:
        quoted = c.cast("string")
    return F.coalesce(quoted, F.lit("null"))


def _leaf_exprs(schema: StructType):
    """Dotted-path leaf projections; arrays stay whole (exploded later).

    Returns [(path, Column, dataType)].
    """
    out = []

    def rec(col: Column, path: str, dtype):
        if isinstance(dtype, StructType):
            for f in dtype.fields:
                rec(col[f.name], f"{path}.{f.name}", f.dataType)
        else:
            out.append((path, col, dtype))

    for f in schema.fields:
        rec(F.col(f"`{f.name}`"), f.name, f.dataType)
    return out


def flatten_json(
    df: DataFrame, collapse_arrays: bool = False, json_quote: bool = True
) -> DataFrame:
    """Long-form ``(path, value)`` rows: one per (row, JSON leaf)."""
    leaves = _leaf_exprs(df.schema)

    scalar_pairs: list[tuple[Column, Column]] = []  # (path expr, value expr)
    array_leaves = []
    for path, col, dtype in leaves:
        if isinstance(dtype, ArrayType):
            array_leaves.append((path, col, dtype))
        else:
            v = json_quote_col(col, dtype) if json_quote else col.cast("string")
            scalar_pairs.append((F.lit(path), v))

    # scalars ride along as one kv-array; each array leaf contributes its own
    # exploded kv rows (path carries the runtime index unless collapsed)
    kvs = [
        F.array(*[F.struct(p.alias("path"), v.alias("value"))
                  for p, v in scalar_pairs])
    ] if scalar_pairs else []

    for path, col, dtype in array_leaves:
        elem = dtype.elementType
        if isinstance(elem, StructType):
            sub = _leaf_exprs(elem)

            def make_kv_of(base, sub):
                def kv_of(entry):
                    pos, val = entry["pos"], entry["val"]
                    items = []
                    for spath, _scol, sdt in sub:
                        c = val
                        for part in spath.split("."):
                            c = c[part]
                        v = json_quote_col(c, sdt)
                        idx = F.lit("[]") if collapse_arrays else F.concat(
                            F.lit("["), pos.cast("string"), F.lit("]"))
                        items.append(F.struct(
                            F.concat(F.lit(base), idx, F.lit("."),
                                     F.lit(spath)).alias("path"),
                            v.alias("value"),
                        ))
                    return F.array(*items)

                return kv_of

            entries = F.transform(
                col, lambda x, i: F.struct(i.alias("pos"), x.alias("val"))
            )
            kvs.append(F.flatten(F.transform(entries, make_kv_of(path, sub))))
        else:
            def make_kv_elem(base, elem):
                def kv_elem(x, i):
                    idx = F.lit("[]") if collapse_arrays else F.concat(
                        F.lit("["), i.cast("string"), F.lit("]"))
                    v = json_quote_col(x, elem) if json_quote else x.cast("string")
                    return F.struct(
                        F.concat(F.lit(base), idx).alias("path"), v.alias("value")
                    )

                return kv_elem

            kvs.append(F.coalesce(
                F.transform(col, make_kv_elem(path, elem)),
                F.array().cast("array<struct<path:string,value:string>>"),
            ))

    all_kv = F.concat(*kvs) if len(kvs) > 1 else kvs[0]
    return df.select(F.explode(all_kv).alias("kv")).select("kv.path", "kv.value")


def profile_json(df: DataFrame, grain: str = "LU", collapse_arrays: bool = False) -> DataFrame:
    """Full JSON DQ profile: flatten → mask (M6 quoting) → frequency table
    (``profile.tally`` over ``(path, value)``, example ``min(value)``)."""
    long = flatten_json(df, collapse_arrays=collapse_arrays, json_quote=True)
    return tally(long.select(F.col("path").alias("column"),
                             F.col("value").alias("raw")),
                 grain, F.min("raw"))


# ---------------------------------------------------------------------------
# S6: paginated-JSON array extraction (reference main.rs:228-294)
# ---------------------------------------------------------------------------

PAGINATION_CANDIDATES = ["items", "data", "results", "records", "rows"]


def read_paginated_json(spark, path: str, array_field: str = "auto"):
    """``{items: [...]}`` or top-level ``[...]`` documents → one row per
    element (the reference's ``--extract-array field|auto``).

    Auto-detection prefers the reference's candidate list
    (items/data/results/records/rows, main.rs:260-275), falling back to the
    first array-typed top-level field.
    """
    doc = spark.read.option("multiLine", True).json(path)
    if array_field == "auto":
        arrays = [f.name for f in doc.schema.fields
                  if isinstance(f.dataType, ArrayType)]
        preferred = [c for c in PAGINATION_CANDIDATES if c in arrays]
        if preferred:
            array_field = preferred[0]
        elif arrays:
            array_field = arrays[0]
        else:
            return doc  # already one row per record (top-level array input
            # is exploded by spark.read.json itself)
    exploded = doc.select(F.explode(F.col(f"`{array_field}`")).alias("_rec"))
    return exploded.select("_rec.*")
