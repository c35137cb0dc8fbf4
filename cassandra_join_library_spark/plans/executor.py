"""JoinExecutor — the reference's fluent query API compiled to one
Spark DataFrame plan.

Reference surface (``cassandra_joinlib/join_executor.py:95-152``):
``join / leftJoin / rightJoin / fullOuterJoin / select / filter_by``
queued lazily, then ``execute()``.  The reference then interprets the
queue into per-table CQL + a hand-rolled grace-hash or block-nested-
loop join pipeline (SURVEY.md §3).  Here the queue compiles into a
single declarative DataFrame chain and Catalyst/Tungsten do the rest:

- join algorithm selection (broadcast / shuffled-hash / sort-merge /
  BNLJ) replaces ``_decide_join`` (``hash_join.py:787-868``) and the
  asizeof build-side pick (``hash_join.py:990-1003``);
- the shuffle *is* the grace hash join (``utils.py:232-286``), with
  native spilling instead of the 0.7*RAM budget
  (``join_executor.py:64-66``);
- predicate/projection pushdown replaces parseFilter/addColumn
  (``hash_join.py:59-141``) — without the nested-join OR bug
  (``nested_join.py:131-134``), which we deliberately do not replicate;
- chained left-deep joins (``hash_join.py:295-339``) become chained
  ``.join`` calls; Spark's EnsureRequirements reuses the output
  partitioning across joins on the same key, which is what the
  reference's ``next_join_info`` pre-partitioning hand-implements.

Semantic choices (SURVEY.md §4):
(a) ``filter_by`` conditions are attached AFTER the final join — the
    reference evaluates them at result-save time (``hash_join.py:
    1224-1261``).  Catalyst pushes them down only where legal, so
    outer-join results match the reference.
(b) theta-join comparisons apply the reference's float coercion
    (``nested_join.py:981-998``): if both sides cast to double, compare
    numerically, else compare raw.
(c) NULL join keys follow ANSI semantics (never match; preserved side
    kept by outer joins) — the reference's null-key quirks
    (``intermediate_result.py:66-75``) are documented bugs we skip.

Scale: every operator here is a pure transformation — no collect(), no
driver-side loops — so the same plan runs unchanged on a 1000-executor
cluster; AQE handles skew and partition sizing at runtime.
"""

from __future__ import annotations

import time
from functools import reduce
from typing import Any, Callable, Dict, List, Optional, Sequence, Set, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..operators.range_join import interval_join
from ..sources import sinks
from ..sources.catalog import Catalog, ParquetCatalog, qualify
from .condition import COMPARE, Condition
from .table_info import TableInfo

_HOW = {"inner": "inner", "left": "left", "right": "right", "full": "full",
        "semi": "left_semi", "anti": "left_anti"}


class JoinExecutor:
    """Fluent builder over a :class:`Catalog` of named tables.

    One executor class: the reference's HashJoinExecutor /
    NestedJoinExecutor split (equi vs theta) collapses because Spark
    picks the physical join itself — pass ``operator`` to any join
    method for theta semantics (``nested_join.py:1000-1036``).
    """

    def __init__(self, spark: SparkSession, source: Union[Catalog, str],
                 auto_range_join: bool = True):
        from ..sources.catalog import ensure_session_confs

        self.spark = ensure_session_confs(spark)
        self.catalog: Catalog = (
            ParquetCatalog(source) if isinstance(source, str) else source
        )
        self.auto_range_join = auto_range_join
        self.plan_notes: List[str] = []
        self._joins: List[dict] = []
        self._scan: Optional[TableInfo] = None
        self._selected: Dict[str, Set[str]] = {}
        self._filters: List[Condition] = []
        self.time_elapsed: Dict[str, float] = {}
        self._result: Optional[DataFrame] = None

    # ------------------------------------------------------------------
    # fluent surface (reference: join_executor.py:95-152)
    # ------------------------------------------------------------------
    def join(self, left: TableInfo, right: TableInfo, operator: str = "=",
             strategy: "str | None" = None) -> "JoinExecutor":
        return self._add_join("inner", left, right, operator, strategy)

    def leftJoin(self, left: TableInfo, right: TableInfo, operator: str = "=",
                 strategy: "str | None" = None) -> "JoinExecutor":
        return self._add_join("left", left, right, operator, strategy)

    def rightJoin(self, left: TableInfo, right: TableInfo, operator: str = "=",
                  strategy: "str | None" = None) -> "JoinExecutor":
        return self._add_join("right", left, right, operator, strategy)

    def fullOuterJoin(self, left: TableInfo, right: TableInfo, operator: str = "=",
                      strategy: "str | None" = None) -> "JoinExecutor":
        return self._add_join("full", left, right, operator, strategy)

    def semiJoin(self, left: TableInfo, right: TableInfo, operator: str = "=",
                 strategy: "str | None" = None) -> "JoinExecutor":
        """Left-semi join (engine extension: EXISTS filter — the
        reference has no semi/anti surface).  Output carries only
        left-side columns."""
        return self._add_join("semi", left, right, operator, strategy)

    def antiJoin(self, left: TableInfo, right: TableInfo, operator: str = "=",
                 strategy: "str | None" = None) -> "JoinExecutor":
        """Left-anti join (NOT EXISTS filter, engine extension)."""
        return self._add_join("anti", left, right, operator, strategy)

    def scan(self, table: TableInfo) -> "JoinExecutor":
        """Single-table query (extension — the reference always joins)."""
        self._scan = table
        return self

    def select(self, table: str, columns: "Set[str] | Sequence[str]") -> "JoinExecutor":
        """Per-table projection; set-union merged across repeated calls
        (reference: join_executor.py:133-140)."""
        self._selected.setdefault(table, set()).update(columns)
        return self

    def filter_by(self, condition: Condition) -> "JoinExecutor":
        """Queue a post-join filter (reference: join_executor.py:148-152;
        applied at save time, hash_join.py:1224-1261)."""
        self._filters.append(condition)
        return self

    # join-strategy hints the façade forwards to Catalyst: the user
    # picks the PHYSICAL strategy for one join (the reference's only
    # lever was its memory budget, commands.py MAX_MEMORY_PERCENT;
    # here the optimizer owns sizing and the hint is an override, not
    # a requirement — Catalyst ignores hints it cannot honor)
    _JOIN_STRATEGIES = {"broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl"}

    def _add_join(self, how: str, left: TableInfo, right: TableInfo, operator: str,
                  strategy: "str | None" = None) -> "JoinExecutor":
        if operator not in COMPARE:
            raise ValueError(f"join operator must be one of {sorted(COMPARE)}")
        if strategy is not None and strategy not in self._JOIN_STRATEGIES:
            raise ValueError(
                f"join strategy must be one of {sorted(self._JOIN_STRATEGIES)}"
            )
        # J8: right join column None => reuse left's column name(s)
        if right.join_column is None and left.join_column is not None:
            right = TableInfo(right.table_name, left.join_column, right.alias)
        self._joins.append({"how": how, "left": left, "right": right,
                            "op": operator, "strategy": strategy})
        return self

    # ------------------------------------------------------------------
    # validation (reference: selects_validation, join_executor.py:155-212)
    # ------------------------------------------------------------------
    def _validate_selections(self) -> None:
        for spec in self._joins:
            for ti in (spec["left"], spec["right"]):
                sel = self._selected.get(ti.name)
                if sel is None:
                    continue  # implicit select-all (P3)
                missing = [c for c in ti.key_columns() if c not in sel]
                if missing:
                    raise ValueError(
                        f"join column(s) {missing} of table {ti.name!r} are not "
                        f"in its select() set {sorted(sel)} (reference rejects "
                        "this: join_executor.py:155-212)"
                    )

    # ------------------------------------------------------------------
    # compilation
    # ------------------------------------------------------------------
    def _filter_refs(self) -> Dict[str, Set[str]]:
        """Columns referenced by filters, per table — the reference
        force-adds these to the scan's SELECT list (addColumn,
        hash_join.py:59-89) so residual filters can see them."""
        refs: Dict[str, Set[str]] = {}
        for cond in self._filters:
            for ref in cond.references():
                tbl, _, col = ref.partition(".")
                refs.setdefault(tbl, set()).add(col)
        return refs

    def _load(self, ti: TableInfo, extra_cols: Set[str]) -> DataFrame:
        df = self.catalog.load(self.spark, ti.table_name)
        q = qualify(df, ti.name)
        sel = self._selected.get(ti.name)
        if sel is not None:
            unknown = sorted(sel - set(df.columns))
            if unknown:
                raise ValueError(
                    f"select() for table {ti.name!r} names unknown column(s) "
                    f"{unknown} (available: {df.columns}) — the reference "
                    "rejects invalid selections (join_executor.py:155-212)"
                )
            keep = sel | set(ti.key_columns()) | extra_cols
            cols = [f"{ti.name}_{c}" for c in df.columns if c in keep]
            q = q.select(cols)
        return q

    def _theta_condition(self, lcols: "List[Column]", rcols: "List[Column]",
                         op: str, numeric: "List[bool]",
                         mixed: "List[bool] | None" = None) -> Column:
        mixed = mixed or [False] * len(lcols)

        def cmp(lc: Column, rc: Column, o: str, is_num: bool,
                is_mixed: bool) -> Column:
            if not is_num and (o not in ("=", "!=") or is_mixed):
                lc2, rc2 = lc.try_cast("double"), rc.try_cast("double")
                both = lc2.isNotNull() & rc2.isNotNull()
                # fallback when either side is non-numeric: compare as
                # strings — a deterministic total order where the
                # reference (Python 3 mixed-type compare) would crash;
                # ANSI mode also forbids the implicit string<->int cast
                # (a bare string==bigint comparison THROWS
                # CAST_INVALID_INPUT on the first non-numeric string,
                # which is why mixed-type equality routes here too)
                return F.when(both, _apply(lc2, rc2, o)).otherwise(
                    _apply(lc.cast("string"), rc.cast("string"), o)
                )
            return _apply(lc, rc, o)

        def _apply(a: Column, b: Column, o: str) -> Column:
            return COMPARE[o](a, b)

        def eq(i: int, lc: Column, rc: Column) -> Column:
            return cmp(lc, rc, "=", numeric[i], mixed[i])

        n = len(lcols)
        if n == 1:
            return cmp(lcols[0], rcols[0], op, numeric[0], mixed[0])
        # composite key: lexicographic tuple comparison (Python tuple
        # semantics, as the reference compares key tuples directly)
        eq_all = reduce(
            lambda acc, c: acc & c,
            [eq(i, lc, rc) for i, (lc, rc) in enumerate(zip(lcols, rcols))])
        if op == "=":
            return eq_all
        if op == "!=":
            return ~eq_all
        strict = F.lit(False)
        prefix_eq = F.lit(True)
        base = "<" if op in ("<", "<=") else ">"
        for i, (lc, rc) in enumerate(zip(lcols, rcols)):
            strict = strict | (prefix_eq & cmp(lc, rc, base, numeric[i],
                                               mixed[i]))
            prefix_eq = prefix_eq & eq(i, lc, rc)
        if op in ("<=", ">="):
            return strict | eq_all
        return strict

    # ------------------------------------------------------------------
    # theta → bucketized range-join auto-rewrite
    # ------------------------------------------------------------------
    def _conjunct_leaves(self) -> "List[Condition]":
        """Base comparisons guaranteed to hold on every output row: the
        queued filters are AND-ed together, so top-level _And trees
        flatten into conjuncts; anything under OR/NOT is excluded."""
        from .condition import _And

        out: List[Condition] = []

        def walk(c: Condition) -> None:
            if isinstance(c, _And):
                walk(c.left)
                walk(c.right)
            elif type(c) is Condition:
                out.append(c)

        for c in self._filters:
            walk(c)
        return out

    def _try_interval_rewrite(self, current: DataFrame, rdf: DataFrame,
                              lkeys: "List[str]", rkeys: "List[str]",
                              op: str, how: str,
                              numeric: "List[bool]") -> Optional[DataFrame]:
        """Rewrite an inner theta join whose predicate, combined with a
        queued filter, forms a point-in-interval containment
        (``lo <= p <= hi`` with ``lo``/``hi`` on one side and ``p`` on
        the other) into a bucketized equi-join.

        A BroadcastNestedLoopJoin is O(N·M) comparisons and must hold a
        whole side on every executor; once the bucket width is chosen
        the join is :func:`..operators.range_join.interval_join`, which
        explodes each interval across the buckets it overlaps (reversed
        and NULL intervals match nothing), equi-joins on the bucket key
        and applies the containment — so shuffle/AQE/skew machinery
        does the work and the plan survives big × big inputs.  Bucket
        width is chosen adaptively from one tiny 2-column aggregate over
        the intervals side (avg width, capped so no interval explodes
        into more than ~256 buckets).  The exact theta predicate is
        re-applied immediately, the output keeps the un-rewritten
        column order and the upper/lower-bound filter stays queued, so
        results are bit-identical to the un-rewritten plan.
        """
        if not self.auto_range_join or how != "inner":
            return None
        if op not in ("<", "<=", ">", ">=") or len(lkeys) != 1 or not numeric[0]:
            return None
        a, b = lkeys[0], rkeys[0]
        side_cols = {"left": set(current.columns), "right": set(rdf.columns)}
        # normalize the join predicate to jA <= jB (strictness re-applied
        # exactly later; it does not affect bucket assignment)
        if op in (">", ">="):
            jA, jB, sideA, sideB = b, a, "right", "left"
        else:
            jA, jB, sideA, sideB = a, b, "left", "right"

        plan = None
        for leaf in self._conjunct_leaves():
            if leaf.operator not in ("<", "<=", ">", ">="):
                continue
            if not (isinstance(leaf.lhs, str) and "." in leaf.lhs
                    and isinstance(leaf.rhs, str) and "." in leaf.rhs):
                continue
            x = leaf.lhs.replace(".", "_", 1)
            y = leaf.rhs.replace(".", "_", 1)
            u, v = (x, y) if leaf.operator in ("<", "<=") else (y, x)  # u <= v
            # reading (i): p = jB bounded above by v on jA's side
            if u == jB and v != jA and v in side_cols[sideA]:
                plan = (jB, sideB, jA, v, sideA)
                break
            # reading (ii): p = jA bounded below by u on jB's side
            if v == jA and u != jB and u in side_cols[sideB]:
                plan = (jA, sideA, u, jB, sideB)
                break
        if plan is None:
            return None
        p, pside, lo, hi, iside = plan

        idf = current if iside == "left" else rdf
        itypes = {f.name: f.dataType for f in idf.schema.fields}
        if not all(isinstance(itypes.get(c), NumericType) for c in (lo, hi)):
            return None
        # adaptive bucket width: one 2-column aggregate over the
        # intervals side (reads two numeric columns, prunes the rest)
        stats = idf.select(
            F.avg(F.col(hi) - F.col(lo)).alias("aw"),
            F.max(F.col(hi) - F.col(lo)).alias("mw"),
        ).first()
        if stats is None or stats["aw"] is None:
            return None
        if float(stats["aw"]) <= 0:
            # degenerate (point / reversed) intervals: the old 1e-9
            # width floor made floor(p / 1e-9) SATURATE to Long.max for
            # values beyond ~9e9 (epoch micros, large keys), silently
            # collapsing every row into one hot bucket — the O(N·M)
            # cross product the rewrite exists to avoid, reported as a
            # success.  No meaningful width exists; keep the BNLJ.
            return None
        bucket = max(float(stats["aw"]), float(stats["mw"]) / 256.0)

        self.plan_notes.append(
            f"interval-rewrite: theta {a} {op} {b} with bound "
            f"{lo} <= {p} <= {hi} -> bucketized equi-join "
            f"(bucket_width={bucket:.6g})"
        )
        pdf = current if pside == "left" else rdf
        exact = self._theta_condition([F.col(a)], [F.col(b)], op, numeric)
        return (
            interval_join(pdf, p, idf, lo, hi, bucket_width=bucket)
            .filter(exact)
            .select(*current.columns, *rdf.columns)
        )

    def _compile(self) -> DataFrame:
        self._validate_selections()
        frefs = self._filter_refs()
        loaded: Dict[str, DataFrame] = {}
        order: List[TableInfo] = []
        current: Optional[DataFrame] = None

        if self._scan is not None and self._joins:
            raise ValueError(
                "scan() and join() cannot be combined — scan is the "
                "single-table entry point; queue joins only"
            )
        if self._scan is not None and not self._joins:
            ti = self._scan
            current = self._load(ti, frefs.get(ti.name, set()))
            loaded[ti.name] = current
            order.append(ti)

        for spec in self._joins:
            left, right, how, op = spec["left"], spec["right"], spec["how"], spec["op"]
            if current is None:
                current = self._load(left, frefs.get(left.name, set()))
                loaded[left.name] = current
                order.append(left)
            elif left.name not in loaded:
                raise ValueError(
                    f"left table {left.name!r} of join #{len(order)} is not part "
                    "of the accumulated result — the reference chains left-deep "
                    "(result of join k is the left input of join k+1, "
                    "hash_join.py:295-339)"
                )
            if right.name in loaded:
                raise ValueError(
                    f"table {right.name!r} already joined; use an alias for "
                    "self-joins (TableInfo(..., alias=...), commands.py:44-49)"
                )
            rdf = self._load(right, frefs.get(right.name, set()))
            if spec.get("strategy"):
                # hint attaches to the right-side relation for THIS join
                rdf = rdf.hint(spec["strategy"])

            lkeys = [f"{left.name}_{c}" for c in left.key_columns()]
            rkeys = [f"{right.name}_{c}" for c in right.key_columns()]
            if len(lkeys) != len(rkeys) or not lkeys:
                raise ValueError("left/right join key arity mismatch")
            for k, side in [(k, "left") for k in lkeys] + [(k, "right") for k in rkeys]:
                cols = current.columns if side == "left" else rdf.columns
                if k not in cols:
                    raise ValueError(
                        f"join column {k!r} not found on the {side} side "
                        f"(available: {cols})"
                    )
            ltypes = dict((f.name, f.dataType) for f in current.schema.fields)
            rtypes = dict((f.name, f.dataType) for f in rdf.schema.fields)
            numeric = [
                isinstance(ltypes[lk], NumericType) and isinstance(rtypes[rk], NumericType)
                for lk, rk in zip(lkeys, rkeys)
            ]
            # string-vs-numeric key pairs: a bare == would make ANSI
            # mode (the Spark 4 default) cast the string side and THROW
            # on the first non-numeric value — _theta_condition compares
            # them coerce-else-string, for equi and theta joins alike
            from pyspark.sql.types import StringType

            mixed = [
                (isinstance(ltypes[lk], StringType)
                 and isinstance(rtypes[rk], NumericType))
                or (isinstance(ltypes[lk], NumericType)
                    and isinstance(rtypes[rk], StringType))
                for lk, rk in zip(lkeys, rkeys)
            ]
            joined = self._try_interval_rewrite(
                current, rdf, lkeys, rkeys, op, how, numeric)
            if joined is None:
                cond = self._theta_condition(
                    [current[k] for k in lkeys], [rdf[k] for k in rkeys],
                    op, numeric, mixed
                )
                joined = current.join(rdf, on=cond, how=_HOW[how])
            current = joined
            loaded[right.name] = rdf
            if how not in ("semi", "anti"):
                # semi/anti output carries no right-side columns
                order.append(right)

        if current is None:
            raise ValueError("no joins or scan queued — nothing to execute")

        # post-join filters (semantic choice (a) in the module docstring)
        if self._filters:
            resolver = self._make_resolver(current, set(loaded))
            pred = None
            for cond in self._filters:
                c = cond.compile(resolver)
                pred = c if pred is None else (pred & c)
            current = current.filter(pred)

        # final projection: selected ∪ filter-referenced columns, in
        # table order then source column order (reference output is the
        # dict union of per-table projections)
        out_cols: List[str] = []
        for ti in order:
            sel = self._selected.get(ti.name)
            for c in loaded[ti.name].columns:
                bare = c[len(ti.name) + 1:]
                if sel is None or bare in sel or bare in frefs.get(ti.name, set()) \
                        or bare in ti.key_columns():
                    out_cols.append(c)
        return current.select(out_cols)

    def _make_resolver(self, df: DataFrame,
                       known_tables: "Set[str] | None" = None) -> Callable[[Any], Optional[Column]]:
        names = set(df.columns)
        types = {f.name: f.dataType for f in df.schema.fields}
        known = known_tables or set()

        def resolve(ref: Any) -> Optional[Column]:
            if isinstance(ref, str) and "." in ref:
                flat = ref.replace(".", "_", 1)
                if flat in names:
                    return df[flat]
                # a dotted string whose prefix IS a table in this plan
                # can only be a mistyped/unavailable column ref — fail
                # loudly instead of silently comparing a string literal
                prefix = ref.split(".", 1)[0]
                if prefix in known:
                    raise ValueError(
                        f"filter references {ref!r} but column {flat!r} is "
                        f"not in the joined result (available: {sorted(names)})"
                    )
            return None

        def dtype(ref: str):
            flat = ref.replace(".", "_", 1)
            return types.get(flat)

        resolve.dtype = dtype  # type: ignore[attr-defined]
        return resolve

    # ------------------------------------------------------------------
    # execution surface
    # ------------------------------------------------------------------
    def execute(self) -> DataFrame:
        """Compile the queued commands into a (lazy) DataFrame."""
        t0 = time.time()
        self._result = self._compile()
        self.time_elapsed["plan"] = time.time() - t0
        return self._result

    def to_df(self) -> DataFrame:
        return self._result if self._result is not None else self.execute()

    def save_result(self, path: str, mode: str = "overwrite",
                    single_file: bool = False) -> None:
        """JSON-lines result writer (K1, ``hash_join.py:1195-1269``).

        ``single_file=True`` mimics the reference's one-file output via
        coalesce(1) — never use it at scale."""
        df = self.to_df()
        t0 = time.time()
        sinks.write_json_lines(df, path, mode=mode, single_file=single_file)
        dt = time.time() - t0
        # Spark pipelines scan+join+write in one job, so the reference's
        # data_fetch/join split (join_executor.py:214-231) collapses.
        self.time_elapsed.update({"data_fetch": 0.0, "join": dt, "total": dt})

    def show_result(self, n: int = 20, truncate: bool = False) -> None:
        """Tabulated printer (K3, ``utils.py:39-127``)."""
        self.to_df().show(n, truncate=truncate)

    def explain(self, mode: str = "formatted") -> str:
        """Return the physical plan as a string (extension — the
        reference has no plan introspection; on Spark the plan is the
        first thing to read before running at scale).  Captures the
        public ``DataFrame.explain`` output — no private JVM APIs."""
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.to_df().explain(mode=mode)
        return buf.getvalue()

    def get_time_elapsed(self) -> Dict[str, float]:
        """Timing surface kept name-compatible with the reference
        (``join_executor.py:214-231``)."""
        return dict(self.time_elapsed)
