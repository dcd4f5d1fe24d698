"""Schema evolution for warehouse tables (CDM upgrade path).

The reference upgrades warehouses by re-running BigQuery DDL against
the next OMOP CDM release (5.3 → 5.4 adds `episode`, drops
`attribute_definition`, renames/retypes columns); downstream its
`--create-db` only creates MISSING tables, so column-level drift is
the operator's problem.  This module closes that gap Spark-first:

- :func:`diff_schema` — the pure plan: (add, drop, retype) between a
  table's current schema and a target ``StructType``;
- :func:`read_evolved` — ZERO-REWRITE evolution at read time: missing
  columns materialize as typed defaults, extra columns are projected
  away, retyped columns cast — one narrow projection Catalyst folds
  into the scan (no shuffle, no data movement; the right rung for
  additive drift at 100 TB);
- :meth:`evolve` — the one-shot REWRITE: the same projection written
  back through the warehouse's atomic commit path, so the files
  themselves match the target schema afterwards (scan + write, still
  shuffle-free; on a pointer table the old schema survives as a
  version dir — an evolution is undoable via ``restore_version``);
- :func:`migrate_to_registry` — the ``--migrate-db`` verb: create
  missing tables empty, evolve drifted ones, report per-table actions.

Casts are validated against a safe-widening whitelist (int→long,
float→double, int→double, date→timestamp, anything→string); narrowing
casts raise unless ``allow_narrowing=True`` — silent truncation is the
one migration failure that corrupts without erroring.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.caching import local_frame

#: target type → source types that widen losslessly into it
_SAFE_WIDENINGS = {
    T.LongType(): {T.IntegerType(), T.ShortType(), T.ByteType()},
    T.IntegerType(): {T.ShortType(), T.ByteType()},
    T.DoubleType(): {
        T.FloatType(), T.IntegerType(), T.ShortType(), T.ByteType(),
        T.LongType(),
    },
    T.FloatType(): {T.ShortType(), T.ByteType()},
    T.TimestampType(): {T.DateType()},
    T.StringType(): None,  # everything casts to string losslessly enough
}


@dataclass
class SchemaDiff:
    add: list[T.StructField] = field(default_factory=list)
    drop: list[str] = field(default_factory=list)
    retype: list[tuple[str, T.DataType, T.DataType]] = field(
        default_factory=list
    )  # (name, from, to)

    def __bool__(self) -> bool:
        return bool(self.add or self.drop or self.retype)

    def summary(self) -> list[str]:
        out = [f"+{f.name}:{f.dataType.simpleString()}" for f in self.add]
        out += [f"-{name}" for name in self.drop]
        out += [
            f"~{name}:{src.simpleString()}->{dst.simpleString()}"
            for name, src, dst in self.retype
        ]
        return out


def diff_schema(current: T.StructType, target: T.StructType) -> SchemaDiff:
    """The evolution plan between two schemas (by column name;
    comparison ignores nullability — parquet files don't enforce it)."""
    cur = {f.name: f.dataType for f in current.fields}
    tgt = {f.name: f.dataType for f in target.fields}
    d = SchemaDiff()
    for f in target.fields:
        if f.name not in cur:
            d.add.append(f)
        elif cur[f.name] != f.dataType:
            d.retype.append((f.name, cur[f.name], f.dataType))
    d.drop = [n for n in cur if n not in tgt]
    return d


def _is_safe_cast(src: T.DataType, dst: T.DataType) -> bool:
    if dst in _SAFE_WIDENINGS:
        allowed = _SAFE_WIDENINGS[dst]
        return allowed is None or src in allowed
    return False


def _check_casts(diff: SchemaDiff, allow_narrowing: bool) -> None:
    if allow_narrowing:
        return
    bad = [
        f"{name}: {src.simpleString()} -> {dst.simpleString()}"
        for name, src, dst in diff.retype
        if not _is_safe_cast(src, dst)
    ]
    if bad:
        raise ValueError(
            "narrowing/lossy casts refused (pass allow_narrowing=True "
            "to force): " + "; ".join(bad)
        )


def evolved_projection(
    df: DataFrame,
    target: T.StructType,
    defaults: dict[str, object] | None = None,
    allow_narrowing: bool = False,
) -> tuple[DataFrame, SchemaDiff]:
    """The single narrow SELECT that evolves ``df`` to ``target``:
    adds (typed default or NULL), drops, casts — in target column
    order.  Catalyst folds it into the scan: no shuffle, and dropped
    columns never leave the parquet reader (column pruning)."""
    defaults = defaults or {}
    diff = diff_schema(df.schema, target)
    _check_casts(diff, allow_narrowing)
    cur = {f.name for f in df.schema.fields}
    retypes = {name: src for name, src, _ in diff.retype}
    cols = []
    for f in target.fields:
        if f.name in cur:
            if f.name in retypes:
                # forced narrowing rides try_cast: a value that doesn't
                # fit becomes NULL instead of an ANSI overflow abort
                # mid-rewrite (the caller opted into lossiness)
                cast = (
                    F.col(f.name).cast(f.dataType)
                    if _is_safe_cast(retypes[f.name], f.dataType)
                    else F.col(f.name).try_cast(f.dataType)
                )
                cols.append(cast.alias(f.name))
            else:
                cols.append(F.col(f.name))
        else:
            cols.append(
                F.lit(defaults.get(f.name)).cast(f.dataType).alias(f.name)
            )
    return df.select(*cols), diff


def read_evolved(
    wh,
    spark: SparkSession,
    zone: str,
    table: str,
    target: T.StructType,
    defaults: dict[str, object] | None = None,
    allow_narrowing: bool = False,
) -> DataFrame:
    """Zero-rewrite evolution: read the table AS IF it already had the
    target schema.  The right rung for additive drift at scale — a
    100 TB table gains a column for the cost of a projection."""
    df, _ = evolved_projection(
        wh.read(spark, zone, table), target, defaults, allow_narrowing
    )
    return df


def evolve(
    wh,
    spark: SparkSession,
    zone: str,
    table: str,
    target: T.StructType,
    defaults: dict[str, object] | None = None,
    allow_narrowing: bool = False,
    cluster_by: list[str] | None = None,
) -> SchemaDiff:
    """Rewrite the table to the target schema through the warehouse's
    atomic commit path.  A no-op diff skips the rewrite entirely.
    Returns the applied :class:`SchemaDiff`."""
    df, diff = evolved_projection(
        wh.read(spark, zone, table), target, defaults, allow_narrowing
    )
    if diff:
        wh.write(df, zone, table, cluster_by=cluster_by)
    return diff


def migrate_to_registry(
    wh,
    spark: SparkSession,
    registry,
    zone: str = "omop",
    defaults: dict[str, dict[str, object]] | None = None,
    allow_narrowing: bool = False,
) -> dict[str, list[str]]:
    """Bring every registry table to its spec'd schema: create missing
    tables empty, evolve drifted ones, leave conforming ones untouched.
    Returns {table: [change, ...]} ('created' for new tables; [] for
    already-conforming)."""
    defaults = defaults or {}
    report: dict[str, list[str]] = {}
    for name in sorted(registry.tables):
        spec = registry[name]
        target = spec.schema()
        if not wh.exists(zone, name):
            wh.write(local_frame(spark, [], target), zone, name)
            report[name] = ["created"]
            continue
        diff = evolve(
            wh, spark, zone, name, target,
            defaults=defaults.get(name),
            allow_narrowing=allow_narrowing,
            cluster_by=getattr(spec, "cluster_by", None),
        )
        report[name] = diff.summary()
    return report
