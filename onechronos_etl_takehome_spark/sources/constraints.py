"""CHECK constraints for the txlog table (Delta's ALTER TABLE ADD
CONSTRAINT surface): declare a SQL predicate once, and every
subsequent data-adding commit — API append, MERGE updates, the
``df.write.format("txlog")`` writer, and the streaming sinks — is
validated against it BEFORE the manifest lands. A violating write
raises and commits NOTHING (its staged files stay orphans the log
never references — the same crash contract every txlog writer has).

Semantics are SQL-standard CHECK, Delta-compatible: a row violates a
constraint iff the expression evaluates FALSE; NULL passes (UNKNOWN
is not a violation). ``add_constraint`` first validates the EXISTING
table (one scan) so a recorded constraint is always a true invariant
of every live row from its commit onward.

Storage mirrors the manifest ``schema`` field: the newest manifest
at-or-before a version that carries a ``constraints`` field defines
the active set, so the constraint set itself is time-travelable —
``table_constraints(path, version=v)`` answers "what was enforced
then". add/drop are ordinary commits (no data actions, metrics op
``add-constraint``/``drop-constraint``), so they appear in
``table_history`` and replicate through the log like everything else.

Scale posture: zero cost when no constraints exist (one manifest-fold
lookup); with constraints, validation is ONE count over the
just-staged files only — never a rescan of the table — pushed down
to the staged parquet like any filter.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import txlog


class ConstraintViolation(ValueError):
    """A write would break a CHECK constraint; nothing was committed."""


def table_constraints(
    path: str, *, version: int | None = None
) -> dict[str, str]:
    """Active {name: sql_expr} at ``version`` (latest if None): the
    newest manifest at-or-before it carrying a ``constraints`` field.
    Empty dict for tables that never declared one."""
    version, _ = txlog._resolve_version(path, version)
    for v in reversed(
        [x for x in txlog.committed_versions(path) if x <= version]
    ):
        with open(
            os.path.join(txlog._log_path(path), f"{v:08d}.json")
        ) as f:
            manifest = json.load(f)
        if "constraints" in manifest:
            return dict(manifest["constraints"])
    return {}


def _violates(expr: str):
    """Column TRUE exactly for rows violating CHECK ``expr`` (CHECK
    semantics: FALSE violates, NULL passes) — the single encoding of
    the violation predicate shared by every Spark-side counter."""
    return ~F.coalesce(F.expr(expr), F.lit(True))


def count_violations(df: DataFrame, constraints: dict[str, str]) -> dict:
    """{name: n_violating_rows}, one aggregate pass (FILTER-clause
    style: every constraint counted in a single job)."""
    if not constraints:
        return {}
    aggs = [
        F.count(F.when(_violates(expr), 1)).alias(name)
        for name, expr in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    return {name: row[name] for name in constraints}


def validate_staged(
    spark: SparkSession,
    path: str,
    staged_files: list[str],
    constraints: dict[str, str],
    *,
    unlink_on_violation: bool = True,
) -> None:
    """Enforcement point shared by every data-adding commit path:
    count violations over the JUST-STAGED files (never the table),
    raise ConstraintViolation — deleting the doomed files — when any
    constraint is broken. A constraint naming a column the staged
    frame lacks (pre-evolution producer) reads it as NULL — the files
    are read with the table's physical schema from the log — and NULL
    passes."""
    if not constraints or not staged_files:
        return
    latest = txlog.committed_versions(path)[-1]
    pb = txlog.table_partitioning(path)
    reader = txlog._parquet_reader(
        spark, txlog._physical_schema(path, latest)
    )
    if pb:
        # partitioned staged files carry their partition values in
        # directory names; basePath restores them so a constraint on a
        # partition column validates against real values, not NULLs
        reader = reader.option("basePath", path)
    df = reader.parquet(*[os.path.join(path, f) for f in staged_files])
    # column-mapped tables stage under PHYSICAL names; constraints
    # speak logical — alias back before counting
    mapping = txlog.table_mapping(path)
    if mapping:
        inv = {p_: l for l, p_ in mapping.items()}
        df = df.select(
            *[F.col(c).alias(inv.get(c, c)) for c in df.columns]
        )
    # directory values type-infer (string '7' → int): cast partition
    # columns back to their declared types before validating
    schema = txlog._latest_schema(path, latest)
    for field in schema.fields if schema is not None else []:
        if field.name in pb:
            df = df.withColumn(
                field.name, F.col(field.name).cast(field.dataType)
            )
    bad = count_violations(df, constraints)
    broken = {k: v for k, v in bad.items() if v}
    if broken:
        if unlink_on_violation:
            for f in staged_files:
                try:
                    os.unlink(os.path.join(path, f))
                except OSError:
                    pass
        raise ConstraintViolation(
            f"write to {path} violates CHECK constraint(s) "
            + ", ".join(
                f"{k} ({constraints[k]!r}): {v} row(s)"
                for k, v in sorted(broken.items())
            )
            + "; nothing was committed"
        )


def validate_arrow(tbl, constraints: dict[str, str]) -> None:
    """Executor-side CHECK enforcement over an Arrow table — the
    format writer's path (``df.write.format("txlog")``), whose Python
    data source workers have NO Spark context to run SQL in. The
    expression is compiled by the pruning grammar
    (``sources/pruning.py``: comparisons, IN-as-OR, NULL tests,
    AND/OR/NOT) and evaluated with pyarrow Kleene logic, which IS
    SQL three-valued logic — a row violates iff the expression is
    definitely FALSE, NULL passes, exactly like the Spark-side
    ``validate_staged``. FAIL-CLOSED: an expression outside the
    grammar raises (use ``txlog.append``, whose full-Spark validation
    has no grammar limit) rather than silently not enforcing.

    A column the frame lacks evaluates as all-NULL (pre-evolution
    producers pass, same as the Spark path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .pruning import UNKNOWN, AndN, Leaf, OrN, parse_predicate

    def mask(node):
        """Kleene BooleanArray: True/False/null == SQL TRUE/FALSE/NULL."""
        if isinstance(node, AndN):
            out = pa.array([True] * len(tbl), type=pa.bool_())
            for c in node.children:
                out = pc.and_kleene(out, mask(c))
            return out
        if isinstance(node, OrN):
            out = pa.array([False] * len(tbl), type=pa.bool_())
            for c in node.children:
                out = pc.or_kleene(out, mask(c))
            return out
        assert isinstance(node, Leaf)
        if node.col in tbl.column_names:
            col = tbl[node.col]
        else:  # evolved column absent from this frame: all NULL
            col = pa.nulls(len(tbl))
        if node.kind == "isnull":
            return pc.is_null(col)
        if node.kind == "isnotnull":
            return pc.invert(pc.is_null(col))
        op = {
            "=": pc.equal,
            "!=": pc.not_equal,
            "<": pc.less,
            "<=": pc.less_equal,
            ">": pc.greater,
            ">=": pc.greater_equal,
        }[node.kind]
        return op(col, pa.scalar(node.value))

    for name, expr in constraints.items():
        node = parse_predicate(expr)

        def has_unknown(n) -> bool:
            if isinstance(n, (AndN, OrN)):
                return any(has_unknown(c) for c in n.children)
            return n is UNKNOWN or isinstance(n, type(UNKNOWN))

        if has_unknown(node):
            raise ConstraintViolation(
                f"CHECK constraint {name!r} ({expr!r}) is outside the "
                "format writer's enforceable grammar (comparisons, IN, "
                "NULL tests, AND/OR/NOT); write through txlog.append, "
                "which validates with full Spark SQL"
            )
        try:
            m = mask(node)
            n_false = pc.sum(
                pc.fill_null(pc.invert(m), False)
            ).as_py() or 0
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError) as e:
            raise ConstraintViolation(
                f"CHECK constraint {name!r} ({expr!r}) cannot be "
                f"evaluated over this frame's Arrow types ({e}); write "
                "through txlog.append for full Spark SQL validation"
            )
        if n_false:
            raise ConstraintViolation(
                f"write violates CHECK constraint {name!r} ({expr!r}): "
                f"{n_false} row(s); nothing was committed"
            )


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """Record CHECK ``expr`` under ``name`` after validating every
    live row already satisfies it (Delta's ADD CONSTRAINT contract —
    a recorded constraint is a real invariant, not an aspiration).
    Raises ConstraintViolation listing the violating row count if the
    existing table breaks it, ValueError if the name is taken. A lost
    commit race re-validates against the new base."""
    txlog._require_writer(path)

    def plan(base: int):
        current = table_constraints(path, version=base)
        if name in current:
            raise ValueError(
                f"constraint {name!r} already exists on {path}"
            )
        n_bad = count_violations(
            txlog.read_table(spark, path, version=base), {name: expr}
        ).get(name, 0)
        if n_bad:
            raise ConstraintViolation(
                f"cannot add CHECK constraint {name!r} ({expr!r}) to "
                f"{path}: {n_bad} existing row(s) violate it"
            )
        # a table carrying CHECK constraints needs constraint-aware
        # writers: bump min_writer_version to 2 so a feature-unaware
        # writer refuses instead of silently bypassing validation
        return [], {
            "constraints": {**current, name: expr},
            "protocol": txlog._protocol_at_least(path, base, 1, 2),
            "metrics": {"op": "add-constraint", "constraint": name},
        }

    return txlog._transact(path, "add-constraint", plan)


def drop_constraint(spark: SparkSession, path: str, name: str) -> int:
    """Remove ``name`` from the active set (no validation needed)."""
    txlog._require_writer(path)

    def plan(base: int):
        current = table_constraints(path, version=base)
        if name not in current:
            raise ValueError(f"no constraint {name!r} on {path}")
        remaining = {k: v for k, v in current.items() if k != name}
        return [], {
            "constraints": remaining,
            "metrics": {"op": "drop-constraint", "constraint": name},
        }

    return txlog._transact(path, "drop-constraint", plan)
