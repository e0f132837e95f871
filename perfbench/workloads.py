"""The benchmark workloads: their inputs, their ops and their checks.

An op is one unit of the closed loop: it runs to completion before the
next one starts. ``run(phase)`` is the timed region; it marks its build
and execution with ``phase("build")`` / ``phase("exec")`` (``"analyze"``
for ops that only resolve a plan) so the tracer can attribute time and
Spark jobs. ``check(result)`` runs outside the timed region and returns
an error message or None.

Ops whose output is fingerprinted observe it during their own execution,
so the timed region includes that one aggregate. Its expressions are
built on the op's first run, which is always an untimed warm run, and
reused; the tracer leaves the observation's py4j calls out of its counts.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

import colnade_spark as cs
from colnade_spark.conversion import spark_type_compatible
from colnade_spark.dtypes import Int64, Utf8
from colnade_spark.errors import SchemaError
from colnade_spark.schema import Column, Schema

import datagen
import gen_scale_data
import typed

# 21 registry queries: TPC-H joins/aggregates, windows, time series, text,
# dedup, ANN, clustering and curation entries (the fixed-cost regime). Each
# operator module the registry reaches appears at least once; a pass takes
# ~8 s on 4 cores, so a run holds two.
BOARD_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "join_agg", "triple_join_region",
    "window_partition_agg", "asof_align", "sessionize", "token_fertility_by_lang",
    "language_pred", "text_quality", "dedup_minhash_ids", "minhash_estimate_pairs",
    "emb_near_dup_arrow", "ann_pq", "dedup_components", "kmeans_clusters",
    "bigram_pmi_top", "dsir_doc_weights", "curation_funnel_docs",
    "commonness_frozen_docs", "span_decontaminated_docs",
]
# DuckDB twins that replay MinHash in HUGEINT arithmetic take minutes on
# one query; these entries are checked by fingerprint only
ORACLE_TOO_SLOW = {"dedup_minhash_ids", "minhash_estimate_pairs"}
LANGS = ["en", "de", "zh", "fr", "es"]


def fingerprint_exprs(df):
    """Order-insensitive fingerprint of a frame's rows, computed by
    ``observe`` during the op's own execution: row count, xor and modular
    sum of a per-row xxhash64. Floating-point values are rounded to 6
    decimals first, so summation order cannot change the fingerprint."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
            c = F.transform(c, lambda x: F.round(x, 6))
        elif isinstance(t, (T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(c)
    h = F.xxhash64(*cols) if cols else F.lit(0)
    out = [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("hxor"),
        F.sum(F.pmod(h, F.lit(1_000_000_007))).alias("hsum"),
    ]
    if "agree_at_threshold" in df.columns:
        out.append(F.avg(F.col("agree_at_threshold").cast("double")).alias("agree"))
    return out


def fingerprint(observed: dict) -> dict:
    return {k: observed[k] for k in ("rows", "hxor", "hsum")}


def match_ref(refs: dict, name: str, observed: dict) -> str | None:
    """Compare an op's fingerprint with the first one seen for it (this run
    or an earlier run over the same inputs); the first one becomes the
    reference."""
    fp = fingerprint(observed)
    ref = refs.setdefault(name, fp)
    return None if ref == fp else f"fingerprint {fp} != {ref}"


class Observed:
    """Attaches an order-insensitive fingerprint to a frame; the column
    expressions are made from the first frame seen and reused (they are
    unresolved, so they apply to any frame with the same schema)."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.exprs = None

    def attach(self, df):
        """``df`` observed into a fresh Observation, returned alongside it."""
        with self.tracer.quiet():
            if self.exprs is None:
                self.exprs = fingerprint_exprs(df)
            obs = Observation()
            return df.observe(obs, *self.exprs), obs

    def get(self, obs) -> dict:
        with self.tracer.quiet():
            return dict(obs.get)


class QueryOp:
    """A registry query: build it, run it to the noop sink. Its fingerprint
    must repeat on every pass, and across runs of the same seed (``refs``
    is shared with the fingerprint file)."""

    layer = "entry"

    def __init__(self, name, fn, spark, data_dir, refs, tracer):
        self.name, self.fn, self.spark, self.data_dir, self.refs = name, fn, spark, data_dir, refs
        self.observed = Observed(tracer)

    def run(self, phase):
        with phase("build"):
            df = self.fn(self.spark, self.data_dir)
        df, obs = self.observed.attach(df)
        with phase("exec"):
            df.write.format("noop").mode("overwrite").save()
        return self.observed.get(obs)

    def check(self, result):
        return match_ref(self.refs, self.name, result)


class TypedOp:
    """A generated typed pipeline, built and forced to an analyzed plan."""

    layer = "typed"

    def __init__(self, pipe: typed.Pipeline, spark, data_dir, tracer):
        self.name, self.pipe, self.spark, self.data_dir, self.tracer = pipe.name, pipe, spark, data_dir, tracer
        self.declared = pipe.out_schema._columns

    def _expr(self, make):
        with self.tracer.span("expr.build"):
            return make()

    def run(self, phase):
        with phase("build"):
            frame = self.pipe.build(self.data_dir, self.spark, self._expr)
        with phase("analyze"):
            return frame.native.schema

    def check(self, result):
        """Same column names in order, each carrying its declared dtype
        under the library's own type mapping."""
        names = [f.name for f in result.fields]
        if names != list(self.declared):
            return f"columns {names} != declared {list(self.declared)}"
        bad = [f.name for f in result.fields if not spark_type_compatible(self.declared[f.name].dtype, f.dataType)]
        return f"columns {bad} do not carry their declared dtype" if bad else None


class TwinOp:
    """One side of a bench_overhead.py shape: the typed build or its
    hand-written PySpark twin, forced to an analyzed plan. The typed side
    checks that both sides still give the same optimized plan."""

    layer = "typed"

    def __init__(self, shape, side, builders):
        self.name = f"twin.{shape}.{side}"
        self.shape, self.side, self.builders = shape, side, builders

    def run(self, phase):
        typed_fn, raw_fn = self.builders
        with phase("build"):
            df = (typed_fn if self.side == "typed" else raw_fn)()
        with phase("analyze"):
            return df.schema

    def check(self, result):
        if self.side != "typed":
            return None
        import bench_overhead

        typed_fn, raw_fn = self.builders
        same = bench_overhead._norm_plan(typed_fn()) == bench_overhead._norm_plan(raw_fn())
        return None if same else "typed and raw plans differ"


class ShardDoc(Schema):
    """The validated_io read schema: per-column constraints plus one
    cross-column invariant."""

    doc_id: Column[Int64] = cs.Field(ge=0, unique=True)
    text: Column[Utf8] = cs.Field(min_length=1)
    lang: Column[Utf8] = cs.Field(isin=LANGS)
    source: Column[Utf8] = cs.Field(pattern=r"^src\d+$")
    n_chars: Column[Int64] = cs.Field(ge=1)

    @cs.schema_check
    def chars_match_text(cls):
        return cls.n_chars == cls.text.str_len()


class ShardOut(Schema):
    doc_id: Column[Int64]
    text: Column[Utf8]
    lang: Column[Utf8]
    n_chars: Column[Int64]
    n_words: Column[Int64]


# planted violations per bad shard: (column, constraint) -> rows
PLANTED = {("lang", "isin"): 7, ("source", "pattern"): 5, ("<schema>", "schema_check:chars_match_text"): 3}


class ShardOp:
    """Read one shard at FULL validation, apply a typed transform, write it
    with write_parquet and read the result back at STRUCTURAL. Shards with
    planted violations must raise exactly the planted violations."""

    layer = "io"

    def __init__(self, path, out_path, spark, planted, refs, tracer):
        self.name = os.path.basename(path)
        self.path, self.out_path, self.spark, self.planted, self.refs = path, out_path, spark, planted, refs
        self.observed = Observed(tracer)

    def run(self, phase):
        with phase("build"):
            cs.set_validation("FULL")
            try:
                frame = cs.read_parquet(self.path, ShardDoc, spark=self.spark)
            except SchemaError as err:
                return {"violations": {(v.column, v.constraint): v.got_count for v in err.value_violations}}
            finally:
                cs.set_validation("OFF")
            out = (
                frame.filter((ShardDoc.n_chars >= 60) & (ShardDoc.lang != "zh"))
                .with_columns(
                    ShardDoc.text.str_to_uppercase().alias("text"),
                    (ShardDoc.text.str_count_matches(" ").cast(Int64) + 1).alias("n_words"),
                )
                .cast_schema(ShardOut)
            )
            observed: list = []  # the Observation made inside with_raw
            out = out.with_raw(lambda d: self._attach(d, observed))
        with phase("exec"):
            cs.write_parquet(out, self.out_path)
            cs.set_validation("STRUCTURAL")
            try:
                back = cs.read_parquet(self.out_path, ShardOut, spark=self.spark)
            finally:
                cs.set_validation("OFF")
        return {"written": self.observed.get(observed[0]), "back": back}

    def _attach(self, df, into: list):
        df, obs = self.observed.attach(df)
        into.append(obs)
        return df

    def check(self, result):
        if self.planted:
            found = result.get("violations")
            return None if found == PLANTED else f"violations {found} != planted {PLANTED}"
        if "violations" in result:
            return f"unexpected violations {result['violations']}"
        written = fingerprint(result["written"])
        back = result["back"].native
        read = fingerprint(back.agg(*fingerprint_exprs(back)).first().asDict())
        if read != written:
            return f"read back {read} != written {written}"
        return match_ref(self.refs, self.name, written)


# ---------------------------------------------------------------------------
# workload definitions
# ---------------------------------------------------------------------------


class Workload:
    """``generate`` writes the seeded inputs, ``make_ops`` returns the op
    list; ``oracle`` checks ops against an independent engine after the
    measured passes and returns ``{op: error or None}`` per op it ran."""

    name = ""
    burn_in_passes = 0  # untimed passes after the first warm pass

    def data_key(self, seed: int) -> str:
        """Names the inputs: runs with one key must give equal fingerprints."""
        return f"{self.name}-seed{seed}"

    def oracle(self, spark, data_dir, ops):
        return {}


class Board(Workload):
    """The fixed board: the data is the same for every seed (generated
    with the fixtures' seed 42); the seed only shuffles the op order."""

    name = "board_sf001"
    burn_in_passes = 1
    sf = 0.01
    data_seed = 42

    def data_key(self, seed):
        return f"{self.name}-data{self.data_seed}"

    def generate(self, data_dir, seed):
        datagen.write_star_schema(data_dir, self.sf, self.data_seed)

    def make_ops(self, spark, data_dir, seed, refs, tracer, scratch):
        from __spark_entry__ import queries

        qs = queries()
        return [QueryOp(n, qs[n], spark, data_dir, refs, tracer) for n in BOARD_QUERIES]

    def oracle(self, spark, data_dir, ops):
        """Collect each query and compare it with its DuckDB twin
        (scripts/check_oracle.py's comparison). Runs once per checkout:
        later runs check their fingerprints against this run's."""
        import duckdb

        saved = list(sys.path)
        import check_oracle  # prepends a fixed repository path on import

        sys.path[:] = saved
        con = duckdb.connect()
        con.execute("SET threads=1")
        for t in check_oracle.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        results = {}
        for op in ops:
            if op.name not in ORACLE_TOO_SLOW:
                ok, msg = check_oracle.compare(op.name, op.fn(spark, data_dir), con)
                results[op.name] = None if ok else msg
        con.close()
        return results


class TypedBuild(Workload):
    name = "typed_build"
    burn_in_passes = 6
    sf = 0.01
    n_pipelines = 100

    def generate(self, data_dir, seed):
        datagen.write_star_schema(data_dir, self.sf, seed)

    def make_ops(self, spark, data_dir, seed, refs, tracer, scratch):
        import bench_overhead

        bench_overhead.SF_DIR = data_dir
        ops: list = [TypedOp(p, spark, data_dir, tracer) for p in typed.generate(self.n_pipelines, seed, data_dir, spark)]
        for shape, builders in bench_overhead.pipelines(spark).items():
            ops += [TwinOp(shape, "typed", builders), TwinOp(shape, "raw", builders)]
        return ops


class ValidatedIO(Workload):
    name = "validated_io"
    burn_in_passes = 5
    n_shards, shard_docs = 8, 1000
    bad_shards = (2, 5)

    def generate(self, data_dir, seed):
        os.makedirs(data_dir, exist_ok=True)
        rng = np.random.default_rng(seed)
        docs = gen_scale_data.gen_documents(self.n_shards * self.shard_docs, rng, 2000)
        for i in range(self.n_shards):
            shard = docs.slice(i * self.shard_docs, self.shard_docs).to_pydict()
            if i in self.bad_shards:
                self._plant(shard, rng)
            pq.write_table(pa.table(shard, schema=docs.schema), os.path.join(data_dir, f"shard{i:02d}.parquet"))

    @staticmethod
    def _plant(shard, rng):
        """Plant PLANTED's violations on distinct rows of one shard."""
        rows = rng.permutation(len(shard["doc_id"]))
        i = 0
        for (col, _kind), n in PLANTED.items():
            for r in rows[i : i + n]:
                if col == "lang":
                    shard["lang"][r] = "xx"
                elif col == "source":
                    shard["source"][r] = "unknown"
                else:
                    shard["n_chars"][r] += 1
            i += n

    def make_ops(self, spark, data_dir, seed, refs, tracer, scratch):
        ops = []
        for i in range(self.n_shards):
            path = os.path.join(data_dir, f"shard{i:02d}.parquet")
            out = os.path.join(scratch, f"out{i:02d}")
            ops.append(ShardOp(path, out, spark, i in self.bad_shards, refs, tracer))
        return ops


WORKLOADS = {w.name: w for w in (Board(), TypedBuild(), ValidatedIO())}
