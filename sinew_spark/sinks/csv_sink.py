"""CSV sink — header freeze, projection, normalization, ordered emit.

Replicates the reference's CSV semantics (/root/reference/lib/sinew/csv.rb,
base.rb:130-151):

- schema frozen at first write: explicit header list or the first emitted
  row's key order (test/recipes/array_header.sinew, implicit_header.sinew);
  freezing twice raises (csv.rb:16)
- later rows are PROJECTED onto the frozen header: extra keys silently
  dropped, missing keys -> empty cells (csv.rb:34-41, test_base.rb:119-124)
- every cell flows through the normalize pipeline (functions/normalize.py)
- emit order is the replayable total order `seq` (the reference's order is
  program order under a mutex, base.rb:136-151; the engine's is an explicit
  column) — `limit` keeps the first k by seq (base.rb:146-149)
- tally counts non-null cells per column (csv.rb:36-39) == Spark count(col)

Two writers:

- `CsvSink.render` materializes the projected emits ONCE, as one Arrow
  table (`toArrow`; with a `limit` the plan is `orderBy(seq).limit(k)`, a
  take-ordered), orders it by seq on the driver and renders byte-exact CSV
  from it (golden compare; quoting rules identical to Ruby's CSV — quote
  iff the cell contains quote/comma/newline). `CsvSink.report` answers the
  tally from the same cached table's null counts — no second job, no
  re-execution of the fetch/extract/normalize plan behind the emits.
- `write_csv_distributed` uses Spark's CSV writer for scale (one file per
  partition, ordered within+across by seq via repartitionByRange)."""

from __future__ import annotations

import io

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sinew_spark.functions.normalize import normalize_udf


class HeaderFrozenError(RuntimeError):
    pass


def normalize_cell(col, dtype) -> F.Column:
    """N1/N2 coercion + the N3-N10 pipeline for one column."""
    c = F.col(col) if isinstance(col, str) else col
    if isinstance(dtype, T.ArrayType):
        c = F.array_join(c.cast(T.ArrayType(T.StringType())), "|")
    else:
        c = c.cast("string")
    return normalize_udf(c)


def project_emits(df: DataFrame, columns: list[str]) -> DataFrame:
    """Project emitted rows onto the frozen header: normalize present
    columns, NULL-fill missing ones, drop extras. Keeps `seq`."""
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for c in columns:
        if c in dtypes:
            cols.append(normalize_cell(c, dtypes[c]).alias(c))
        else:
            cols.append(F.lit(None).cast("string").alias(c))
    return df.select(*cols, F.col("seq"))


def tally_report(total: int, tally: dict) -> list[tuple[str, int, float]]:
    """Footer report rows sorted by (-count, column) (main.rb:53-60)."""
    if total == 0:
        return []
    return [
        (c, n, n * 100.0 / total)
        for c, n in sorted(tally.items(), key=lambda kv: (-kv[1], str(kv[0])))
    ]


def _ruby_csv_cell(v: str | None) -> str:
    if v is None:
        return ""
    if any(ch in v for ch in (",", '"', "\n", "\r")):
        return '"' + v.replace('"', '""') + '"'
    return v


def write_csv_distributed(projected: DataFrame, columns: list[str], path: str, n_files: int = 32) -> None:
    """Scale path: range-partition by seq so files sort globally, Spark CSV
    writer (header per file)."""
    (
        projected.repartitionByRange(n_files, "seq")
        .sortWithinPartitions("seq")
        .select(columns)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


class CsvSink:
    """Stateful wrapper mirroring sinew's CSV object lifecycle: freeze once,
    emit DataFrames, render/report."""

    def __init__(self, columns: list[str] | None = None):
        self.columns: list[str] | None = list(columns) if columns else None
        self._emits: list[DataFrame] = []
        # (limit, Arrow table) of the last render — report() reads it
        self._rendered: tuple | None = None

    @property
    def started(self) -> bool:
        return self.columns is not None

    def freeze_header(self, columns: list[str]) -> None:
        if self.started:
            raise HeaderFrozenError("started twice")  # csv.rb:16
        self.columns = list(columns)

    def emit(self, df: DataFrame) -> None:
        """df: emitted rows with a seq column; header freezes on first emit
        from the DataFrame's column order (minus seq)."""
        if not self.started:
            self.freeze_header([c for c in df.columns if c != "seq"])
        self._emits.append(project_emits(df, self.columns))
        self._rendered = None

    def dataframe(self) -> DataFrame:
        if not self._emits:
            raise RuntimeError("nothing emitted")
        out = self._emits[0]
        for e in self._emits[1:]:
            out = out.unionByName(e)
        return out

    def _table(self, limit: int | None):
        """The emitted rows (first ``limit`` by seq) as one Arrow table in
        seq order — the sink's single Spark job, cached until the next
        emit. Rendering is driver-side by contract, so the rows are bounded
        by ``limit``/test scale; use write_csv_distributed for big outputs."""
        if self._rendered is None or self._rendered[0] != limit:
            df = self.dataframe()
            if limit is not None:
                df = df.orderBy("seq").limit(limit)
            table = df.select(*self.columns, "seq").toArrow().sort_by("seq")
            self._rendered = (limit, table)
        return self._rendered[1]

    def render(self, limit: int | None = None) -> str:
        """Byte-exact CSV: header + rows ordered by seq, limit applied."""
        table = self._table(limit)
        buf = io.StringIO()
        buf.write(",".join(_ruby_csv_cell(c) for c in self.columns) + "\n")
        cols = [table.column(c).to_pylist() for c in self.columns]
        for i in range(table.num_rows):
            buf.write(",".join(_ruby_csv_cell(col[i]) for col in cols) + "\n")
        return buf.getvalue()

    def report(self, limit: int | None = None) -> tuple[int, dict]:
        """(total rows, per-column non-null counts) — csv.rb:36-42; the
        Arrow null counts equal Spark's count(col), which skips nulls."""
        table = self._table(limit)
        n = table.num_rows
        return n, {c: n - table.column(c).null_count for c in self.columns}
