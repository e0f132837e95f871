"""Seeded typed pipelines for the ``typed_build`` workload.

Each pipeline is ``scan_parquet`` over one TPC-H-style table followed by
3-8 verbs drawn from filter, with_columns, group_by.agg, join, sort,
window and cast_schema, with random expression trees. Every verb keeps
the frame bound to a declared schema class (built on the fly with the
library's own ``Schema`` metaclass), so the final frame has a declared
output StructType the analyzed plan must resolve to.

A pipeline is generated once as a list of steps; each step holds the
choices it made, and rebuilds its expressions from them on every call, so
expression construction is part of every measured build.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np

import colnade_spark as cs
from colnade_spark import dtypes as cdt
from colnade_spark.schema import Column, Schema
from colnade_spark.tpch import Customer, Lineitem, Nation, Orders, Part, Supplier, table_path

TABLES: dict[str, type[Schema]] = {
    "customer": Customer,
    "orders": Orders,
    "lineitem": Lineitem,
    "part": Part,
    "supplier": Supplier,
}
# foreign key -> (table, primary key)
JOINS = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "c_nationkey": ("nation", "n_nationkey"),
    "s_nationkey": ("nation", "n_nationkey"),
}
ALL_TABLES = dict(TABLES, nation=Nation)
VERBS = ["filter", "with_columns", "group_by", "join", "sort", "window", "cast_schema"]
_STRINGS = ["F", "O", "BUILDING", "1-URGENT", "A", "R", "PROMO", "Brand#7"]


def _kind(col: Column) -> str:
    d = col.dtype
    if issubclass(d, cdt.FloatType):
        return "float"
    if issubclass(d, cdt.IntegerType):
        return "int"
    if issubclass(d, cdt.Datetime):
        return "datetime"
    return "str"


def make_schema(name: str, cols: dict[str, Any]) -> type[Schema]:
    """A Schema subclass with ``cols`` (name -> colnade dtype), built the way a
    class statement would build it."""
    return type(name, (Schema,), {"__annotations__": {n: Column[d] for n, d in cols.items()}})


def _dtypes(schema: type[Schema]) -> dict[str, Any]:
    return {n: c.dtype for n, c in schema._columns.items()}


def _cols(schema: type[Schema], kind: str) -> list[str]:
    return [n for n, c in schema._columns.items() if _kind(c) == kind]


@dataclass
class Pipeline:
    """One generated typed pipeline: a base table and verb steps. Each step
    is ``(verb, make_args, apply)``: ``make_args()`` builds the step's
    expressions, ``apply(frame, args)`` applies the verb."""

    name: str
    table: str
    steps: list[tuple[str, Callable[[], Any], Callable[[Any, Any], Any]]]
    out_schema: type[Schema]

    def build(self, data_dir: str, spark, on_expr: Callable[[Callable[[], Any]], Any] | None = None):
        make = on_expr or (lambda f: f())
        frame = cs.scan_parquet(table_path(data_dir, self.table), TABLES[self.table], spark=spark)
        for _verb, make_args, apply in self.steps:
            frame = apply(frame, make(make_args))
        return frame


class _Gen:
    def __init__(self, rng: np.random.Generator, tag: str, data_dir: str, spark):
        self.rng, self.tag, self.data_dir, self.spark = rng, tag, data_dir, spark
        self.n_schemas = 0

    def pick(self, seq):
        return seq[int(self.rng.integers(0, len(seq)))]

    def new_schema(self, cols: dict[str, Any]) -> type[Schema]:
        self.n_schemas += 1
        return make_schema(f"{self.tag}S{self.n_schemas}", cols)

    # -- expression trees (returned as factories over the schema class) ----
    def predicate(self, schema: type[Schema], depth: int) -> Callable[[], Any]:
        if depth > 1 and self.rng.random() < 0.7:
            left, right = self.predicate(schema, depth - 1), self.predicate(schema, depth - 1)
            op = self.pick(["and", "or", "not_and"])
            if op == "and":
                return lambda: left() & right()
            if op == "or":
                return lambda: left() | right()
            return lambda: ~left() & right()
        kinds = [k for k in ("float", "int", "str", "datetime") if _cols(schema, k)]
        kind = self.pick(kinds)
        col = getattr(schema, self.pick(_cols(schema, kind)))
        cmp = self.pick(["gt", "lt", "ge", "ne"])
        if kind == "float":
            lit: Any = round(float(self.rng.uniform(-100, 1000)), 2)
        elif kind == "int":
            lit = int(self.rng.integers(0, 1000))
        elif kind == "datetime":
            lit = dt.datetime(1995 + int(self.rng.integers(0, 7)), 1 + int(self.rng.integers(0, 12)), 1)
        else:
            lit, cmp = self.pick(_STRINGS), self.pick(["eq", "ne"])
        ops = {
            "gt": lambda: col > lit, "lt": lambda: col < lit, "ge": lambda: col >= lit,
            "ne": lambda: col != lit, "eq": lambda: col == lit,
        }
        return ops[cmp]

    def float_expr(self, schema: type[Schema], depth: int) -> Callable[[], Any]:
        floats = _cols(schema, "float")
        if depth <= 1 or self.rng.random() < 0.3:
            if self.rng.random() < 0.7:
                col = getattr(schema, self.pick(floats))
                return lambda: col
            lit = round(float(self.rng.uniform(0.5, 3.0)), 3)
            return lambda: cs.lit(lit)
        left, right = self.float_expr(schema, depth - 1), self.float_expr(schema, depth - 1)
        op = self.pick(["add", "sub", "mul", "abs", "round"])
        if op == "add":
            return lambda: left() + right()
        if op == "sub":
            return lambda: left() - right()
        if op == "mul":
            return lambda: left() * right()
        col = getattr(schema, self.pick(floats))
        if op == "abs":
            return lambda: (col - right()).abs()
        return lambda: (col * right()).round(2)

    # -- verbs: each returns (step, new schema) or None when not applicable --
    def step(self, verb: str, schema: type[Schema]):
        floats = _cols(schema, "float")
        keys = _cols(schema, "str") + _cols(schema, "int")
        if verb == "filter":
            pred = self.predicate(schema, int(self.rng.integers(1, 4)))
            return (pred, lambda f, p: f.filter(p)), schema
        if verb == "with_columns" and floats:
            targets = list(dict.fromkeys(self.pick(floats) for _ in range(int(self.rng.integers(1, 3)))))
            exprs = [(t, self.float_expr(schema, int(self.rng.integers(2, 4)))) for t in targets]
            return (
                lambda: [e().alias(t) for t, e in exprs],
                lambda f, a: f.with_columns(*a),
            ), schema
        if verb == "window" and floats and keys:
            target, key = self.pick(floats), self.pick(keys)
            agg = self.pick(["sum", "max", "mean"])

            def make():
                col = getattr(schema, target)
                return getattr(col, agg)().over(getattr(schema, key)).alias(target)

            return (make, lambda f, a: f.with_columns(a)), schema
        if verb == "sort":
            names = list(schema._columns)
            by = list(dict.fromkeys(self.pick(names) for _ in range(int(self.rng.integers(1, 3)))))
            desc = [bool(self.rng.random() < 0.5) for _ in by]

            def make():
                return [getattr(schema, n).desc() if d else getattr(schema, n).asc() for n, d in zip(by, desc)]

            return (make, lambda f, a: f.sort(*a)), schema
        if verb == "group_by" and floats and keys:
            gkeys = list(dict.fromkeys(self.pick(keys) for _ in range(int(self.rng.integers(1, 3)))))
            aggs = [(self.pick(floats), self.pick(["sum", "mean", "max"])) for _ in range(int(self.rng.integers(1, 4)))]
            # aliases unique per step: a later group_by may key on them
            tag = f"g{self.n_schemas + 1}"
            out_cols = {k: schema._columns[k].dtype for k in gkeys}
            for i, (_c, _a) in enumerate(aggs):
                out_cols[f"{tag}_agg{i}"] = cdt.Float64
            out_cols[f"{tag}_n"] = cdt.Int64
            out = self.new_schema(out_cols)

            def make():
                a = [getattr(getattr(schema, c), fn)().alias(f"{tag}_agg{i}") for i, (c, fn) in enumerate(aggs)]
                a.append(getattr(schema, gkeys[0]).count().alias(f"{tag}_n"))
                return [getattr(schema, k) for k in gkeys], a

            return (make, lambda f, a: f.group_by(*a[0]).agg(*a[1]).cast_schema(out)), out
        if verb == "join":
            fks = [
                c for c in schema._columns
                if c in JOINS and not set(ALL_TABLES[JOINS[c][0]]._columns) & set(schema._columns)
            ]
            if not fks:
                return None
            fk = self.pick(fks)
            tname, pk = JOINS[fk]
            other = ALL_TABLES[tname]
            out = self.new_schema({**_dtypes(schema), **_dtypes(other)})

            def make():
                return getattr(schema, fk) == getattr(other, pk)

            def apply(f, cond):
                right = cs.scan_parquet(table_path(self.data_dir, tname), other, spark=self.spark)
                return f.join(right, on=cond).cast_schema(out)

            return (make, apply), out
        if verb == "cast_schema":
            names = list(schema._columns)
            if len(names) < 3:
                return None
            keep = sorted(self.rng.choice(len(names), size=int(self.rng.integers(2, len(names))), replace=False))
            out = self.new_schema({names[i]: schema._columns[names[i]].dtype for i in keep})
            return (lambda: None, lambda f, _a: f.cast_schema(out)), out
        return None


def generate(n: int, seed: int, data_dir: str, spark) -> list[Pipeline]:
    """``n`` seeded pipelines; the same seed gives the same pipelines.

    The mix is balanced so that seeds differ in choices, not in cost:
    base tables and lengths (3-8 verbs) cycle with the pipeline index, and
    verbs are dealt from a deck holding each verb once, reshuffled by the
    seed whenever it runs out; a verb that does not apply to the current
    schema goes back under the deck."""
    rng = np.random.default_rng(seed)
    names = list(TABLES)
    deck: list[str] = []
    out = []
    for i in range(n):
        g = _Gen(rng, f"P{i}", data_dir, spark)
        table = names[i % len(names)]
        schema: type[Schema] = TABLES[table]
        steps = []
        skipped: list[str] = []
        while len(steps) < 3 + i % 6:
            if not deck:
                deck = [VERBS[j] for j in rng.permutation(len(VERBS))]
            verb = deck.pop()
            made = g.step(verb, schema)
            if made is None:
                skipped.append(verb)
                continue
            (make_args, apply), schema = made
            steps.append((verb, make_args, apply))
        deck = skipped + deck
        # the declared output class every pipeline must resolve to
        final = g.new_schema(_dtypes(schema))
        steps.append(("cast_schema", lambda: None, lambda f, _a, final=final: f.cast_schema(final)))
        out.append(Pipeline(f"pipe{i:03d}", table, steps, final))
    return out
