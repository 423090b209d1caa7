"""Small driver-side constants and row sets as JVM-only plans.

``F.lit(<nested python list>)`` converts element-by-element over py4j —
~2s for a 1000-int codebook, paid at PLAN BUILD time on the driver for
every query that embeds a broadcast constant (measured: the PQ codebook
literal).  Rendering the same constant as ONE SQL string and letting the
JVM parse it costs ~5ms and produces the identical expression tree
(CreateArray of foldable Literals, constant-folded once by Catalyst).

Row sets.  ``spark.createDataFrame(<python list>)`` backs a frame with a
pickled Python RDD, and every action over it (including each re-run of
its lineage) sends every partition through a Python worker.  Two
builders avoid that:

- ``inline_rows``: the rows rendered as one SQL literal array.  Use it
  for a handful of scalar rows the program itself chose (seed names,
  ids, codebook pairs): one parse, no Python worker.  It renders tuples
  as arrays, so it cannot build struct cells, and its cost grows with
  the payload: building and scanning 200 documents of 4 triplets each
  took 0.40 s as SQL against 0.08 s through Arrow (warm medians, 3 task
  slots on a 4-vCPU VM).  Strings that the SQL parser could read as
  more than text (quotes, backslashes, ``$``, control characters) ride
  a hex round-trip, so any string comes back byte-identical.
- ``arrow_rows``: the rows shipped as one Arrow table.  On Spark 4.1 an
  Arrow-built frame plans as a ``LocalTableScan`` (no Python RDD), and
  it carries struct cells and size statistics.  Use it for every frame
  built from request data (documents, query texts, import paths): the
  cells never pass through SQL text.  It stays JVM-only whatever
  ``spark.sql.execution.arrow.pyspark.enabled`` says: a ``pyarrow.Table``
  input has no row-by-row fallback, unlike a pandas frame, which
  silently falls back to a Python RDD with the conf off.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _render(v) -> str:
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_render(x) for x in v) + ")"
    if isinstance(v, float):
        # repr is the shortest round-trip form; the DOUBLE cast parse is
        # correctly rounded, so the bits are preserved exactly
        return f"CAST('{v!r}' AS DOUBLE)"
    return str(int(v))


def num_array_lit(nested, dtype: str) -> Column:
    """A numeric array literal of any nesting depth as a single JVM-parsed
    expression.  Ints render as plain literals, floats as exact
    repr→DOUBLE casts.  ``dtype`` is the full SQL type, e.g.
    ``array<array<bigint>>`` — the cast pins element types so downstream
    arithmetic never mixes widths between engines."""
    return F.expr(f"CAST({_render(nested)} AS {dtype})")


# integer-only call sites predate the float support; same construction
int_array_lit = num_array_lit


def double_array_lit(vals) -> Column:
    """An array<double> literal as one JVM-parsed expression; values ride
    ``repr`` strings (shortest round-trip) cast to DOUBLE (correctly
    rounded), so the bits are preserved exactly."""
    body = ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in vals)
    return F.expr(f"array({body})")


def _render_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        # Parser-hostile payloads (quotes, backslashes, control chars)
        # ride a hex round-trip: decode(unhex(...)) is a deterministic
        # foldable expression — Catalyst constant-folds it to the exact
        # string Literal — and its meaning does not depend on
        # spark.sql.parser.escapedStringLiterals, under which quote/
        # backslash ESCAPES parse differently (ADVICE r17: the old
        # backslash-escape form silently diverged with the conf ON).
        # '$' rides it too: with spark.sql.variable.substitute on (the
        # default) the parser first replaces ${env:X}, ${system:X} and
        # ${<conf key>} in the SQL text, quoted or not.
        if "'" in v or "\\" in v or "$" in v or any(ord(c) < 32 for c in v):
            hx = v.encode("utf-8").hex()
            return f"decode(unhex('{hx}'), 'UTF-8')"
        return f"'{v}'"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_render_cell(x) for x in v) + ")"
    raise TypeError(f"inline_rows: unsupported cell type {type(v)!r}")


def _check_widths(who: str, rows: list, width: int) -> None:
    for i, row in enumerate(rows):
        if len(row) != width:
            raise ValueError(
                f"{who}: row {i} has {len(row)} cells, schema has "
                f"{width} fields (createDataFrame would have raised)"
            )


def inline_rows(spark, rows, schema: str):
    """A small driver-side row set as a PURE-JVM literal plan: one
    ``explode(CAST(array(named_struct(...)) AS array<struct<...>>))`` over
    a single-partition ``range(1)``.

    ``spark.createDataFrame(<python list>)`` backs the frame with a
    pickled Python RDD split across ``defaultParallelism`` partitions —
    every action over it (and every BROADCAST REBUILD that re-executes its
    lineage, e.g. each hop of an iterative expansion) launches 32 tasks
    that each round-trip a Python worker: measured 0.372s vs 0.054s per
    noop action for a 5-row seed frame at local[32] (guide §4: eliminate
    the Python boundary — here the frame CONSTRUCTION was the boundary).
    The literal form is one foldable expression: no Python workers, no
    tasks beyond the 1-split range, and the rows are identical.

    ``schema`` is the same DDL string ``createDataFrame`` took, so call
    sites swap 1:1.  Empty ``rows`` give an empty typed frame over the
    same plan (an empty literal array), so it is JVM-only too."""
    rows = list(rows)
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    names = [f.name for f in st.fields]
    _check_widths("inline_rows", rows, len(names))
    body = ",".join(
        "named_struct("
        + ",".join(f"'{n}', {_render_cell(v)}" for n, v in zip(names, row))
        + ")"
        for row in rows
    )
    arr = f"CAST(array({body}) AS array<{st.simpleString()}>)"
    return (
        spark.range(0, 1, 1, 1)
        .select(F.explode(F.expr(arr)).alias("__r"))
        .select("__r.*")
    )


def arrow_rows(spark, rows, schema: str):
    """A request-sized driver-side row set shipped as ONE Arrow table:
    a single-partition ``LocalTableScan`` with no Python RDD under it.

    Cells follow ``schema`` (a DDL string), including struct cells given
    as tuples.  The frame is coalesced to one partition: the payload is
    bounded by the request, so more partitions would only add tasks, and
    output files wherever a write keeps the frame's partitioning."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(st)
    rows = list(rows)
    _check_widths("arrow_rows", rows, len(st.fields))
    cols = list(zip(*rows)) if rows else [()] * len(st.fields)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, st).coalesce(1)


def int_double_map_lit(d: dict, key_type: str = "int") -> Column:
    """A map<int, double> literal as one JVM-parsed ``map_from_arrays``
    expression (``F.create_map(*[F.lit…])`` is 2 py4j calls per entry —
    ~1s of driver time per 512-weight classifier map, per use).  Double
    values ride ``repr`` strings cast to DOUBLE: Python's repr is the
    shortest round-trip form and Java's parse is correctly rounded, so
    the bits are preserved exactly."""
    keys = ",".join(str(int(k)) for k in d)
    vals = ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in d.values())
    return F.expr(
        f"map_from_arrays(CAST(array({keys}) AS array<{key_type}>),"
        f" array({vals}))"
    )
