"""Composable filter-condition algebra.

Re-expresses the reference's ``Condition`` class
(``cassandra_joinlib/commands.py:52-159``): base comparison operators
``=  !=  <  >  <=  >=  IN  CONTAINS`` over operands that are either
literals or ``"table.column"`` references, combined with ``& | ~``
(reference overloads at ``commands.py:100-107``).

Instead of binding a Python row and evaluating per-row
(``commands.py:109-147``), a Condition here *compiles to a pyspark
Column expression* so the whole predicate runs JVM-side inside
whole-stage codegen, and Catalyst is free to push it below joins and
into the parquet scan where legal.

Null semantics (deliberate, documented): the reference's base
comparisons are null-rejecting Python booleans (``lhs is not None and
...``, ``commands.py:109-147``), so ``~cond`` over a NULL operand keeps
the row (NOT False = True) where ANSI SQL would drop it (NOT NULL =
NULL).  We replicate the reference by wrapping base comparisons in
``coalesce(pred, false)`` — but ONLY under a NOT: in positive filter
contexts (including AND/OR) a NULL predicate drops the row either way,
and an unconditional wrapper would defeat Catalyst's parquet filter
pushdown (coalesce isn't a pushable predicate).  Oracle SQL mirrors
with ``COALESCE(pred, FALSE)`` (harmless in positive contexts).
"""

from __future__ import annotations

from operator import eq, ge, gt, le, lt, ne
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType

#: the comparison operators, shared with the join façade's join conditions
COMPARE = {"=": eq, "!=": ne, "<": lt, ">": gt, "<=": le, ">=": ge}
BASE_OPS = {*COMPARE, "IN", "CONTAINS"}

# resolver: qualified "table.column" -> Column, or None if not a known ref
Resolver = Callable[[Any], "Column | None"]


class Condition:
    """A predicate tree node.

    ``Condition("customer.c_acctbal", ">", 100)``
    ``Condition("customer.c_mktsegment", "IN", {"BUILDING", "AUTOMOBILE"})``
    ``Condition("part.p_name", "CONTAINS", "green")``
    Combine with ``&``, ``|``, ``~`` exactly as the reference overloads
    them (``commands.py:100-107``).
    """

    def __init__(self, lhs: Any, operator: str, rhs: Any = None):
        operator = operator.upper() if isinstance(operator, str) else operator
        if operator == "==":
            operator = "="
        if operator not in BASE_OPS:
            raise ValueError(
                f"unsupported operator {operator!r}; expected one of {sorted(BASE_OPS)}"
            )
        if operator == "IN" and not isinstance(rhs, (list, tuple, set, frozenset)):
            raise ValueError("IN requires a collection right-hand side")
        self.lhs = lhs
        self.operator = operator
        self.rhs = rhs

    # -- combinators (reference: commands.py:100-107) -------------------
    def __and__(self, other: "Condition") -> "Condition":
        return _And(self, other)

    def __or__(self, other: "Condition") -> "Condition":
        return _Or(self, other)

    def __invert__(self) -> "Condition":
        return _Not(self)

    # -- compilation ----------------------------------------------------
    def _operand(self, value: Any, resolve: Resolver) -> Column:
        col = resolve(value) if isinstance(value, str) else None
        return col if col is not None else F.lit(value)

    def compile(self, resolve: Resolver, null_safe: bool = False) -> Column:
        """Compile to a Column.  ``null_safe=True`` (set by an ancestor
        NOT) wraps the comparison in coalesce(pred, false) to replicate
        the reference's null-rejecting booleans under negation."""
        lhs = self._operand(self.lhs, resolve)
        op = self.operator
        if op == "IN":
            pred = lhs.isin(*sorted(self.rhs, key=repr))
        elif op == "CONTAINS":
            # Cassandra CONTAINS targets collections; on strings this is
            # substring containment.  Dispatch on the resolved lhs type
            # when we can see it, else fall back to Column.contains.
            pred = self._contains(lhs, resolve)
        else:
            pred = COMPARE[op](lhs, self._operand(self.rhs, resolve))
        # reference base comparisons are null-rejecting booleans; the
        # wrapper only matters under NOT and would block predicate
        # pushdown elsewhere, so it is applied on demand
        return F.coalesce(pred, F.lit(False)) if null_safe else pred

    def _contains(self, lhs: Column, resolve: Resolver) -> Column:
        dtype = None
        if isinstance(self.lhs, str):
            getter = getattr(resolve, "dtype", None)
            if getter is not None:
                dtype = getter(self.lhs)
        if isinstance(dtype, ArrayType):
            return F.array_contains(lhs, F.lit(self.rhs))
        if isinstance(dtype, MapType):
            return F.map_contains_key(lhs, F.lit(self.rhs))
        return lhs.contains(F.lit(self.rhs))

    # -- introspection ----------------------------------------------
    def references(self) -> "set[str]":
        """Qualified column refs mentioned anywhere in the tree."""
        refs = set()
        for v in (self.lhs, self.rhs):
            if isinstance(v, str) and "." in v:
                refs.add(v)
        return refs

    def __repr__(self) -> str:  # pragma: no cover
        return f"Condition({self.lhs!r} {self.operator} {self.rhs!r})"


class _And(Condition):
    def __init__(self, left: Condition, right: Condition):
        self.left, self.right = left, right

    def compile(self, resolve: Resolver, null_safe: bool = False) -> Column:
        return self.left.compile(resolve, null_safe) & self.right.compile(resolve, null_safe)

    def references(self) -> "set[str]":
        return self.left.references() | self.right.references()

    def __repr__(self) -> str:  # pragma: no cover
        return f"({self.left!r} AND {self.right!r})"


class _Or(Condition):
    def __init__(self, left: Condition, right: Condition):
        self.left, self.right = left, right

    def compile(self, resolve: Resolver, null_safe: bool = False) -> Column:
        return self.left.compile(resolve, null_safe) | self.right.compile(resolve, null_safe)

    def references(self) -> "set[str]":
        return self.left.references() | self.right.references()

    def __repr__(self) -> str:  # pragma: no cover
        return f"({self.left!r} OR {self.right!r})"


class _Not(Condition):
    def __init__(self, inner: Condition):
        self.inner = inner

    def compile(self, resolve: Resolver, null_safe: bool = False) -> Column:
        # everything under a NOT needs reference null semantics
        return ~self.inner.compile(resolve, True)

    def references(self) -> "set[str]":
        return self.inner.references()

    def __repr__(self) -> str:  # pragma: no cover
        return f"(NOT {self.inner!r})"
