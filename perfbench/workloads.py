"""The benchmark workloads. Each one writes its generated inputs once,
prepares engine-side state and serves a light first request per set-up
round, warms up, then runs numbered operations; every operation's output is
checked against the pure-Python oracle."""

from __future__ import annotations

import os
import random
import statistics
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
import yaml

from perfbench import engine, gen, oracle


@dataclass
class OpResult:
    ok: bool
    rows: int
    kind: str = "op"
    error: str = ""


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    seed: int


def _write_parts(table: pa.Table, directory: str, parts: int) -> None:
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for j in range(parts):
        pq.write_table(table.slice(j * step, step), os.path.join(directory, f"part-{j}.parquet"))


def _pipeline_yaml(source: str, fields: dict) -> str:
    stages = [
        {"stage": "source", "format": "parquet", "path": source},
        {"stage": "transform", "fields": fields},
    ]
    return yaml.safe_dump({"pipeline": stages}, sort_keys=False)


def _same(expected: list[dict], actual: list[dict]) -> bool:
    by_id = {r["id"]: oracle.normalize_maps(r) for r in actual}
    return len(by_id) == len(expected) and all(
        by_id.get(r["id"]) == oracle.normalize_maps(r) for r in expected
    )


class Workload:
    name = ""
    CYCLE = 1  # operations per cycle of the op mix

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work

    def generate(self) -> None:
        """Write the seeded inputs (before any timing)."""

    def prepare(self, ctx: Context, rnd: int) -> None:
        """Engine-side state for set-up round ``rnd`` (timed as set-up)."""

    def first_use(self, ctx: Context) -> None:
        """The light first request a fresh session serves (timed as set-up)."""
        raise NotImplementedError

    def warmup(self, ctx: Context) -> None:
        """Run every code path the operations take until the JVM is warm."""
        raise NotImplementedError

    def op(self, ctx: Context, i: int) -> OpResult:
        raise NotImplementedError

    def after_op(self, ctx: Context, i: int, result: OpResult) -> bool:
        """Untimed output check of operation ``i``."""
        return True

    def final_metrics(self, ctx: Context) -> dict[str, float]:
        """Workload-specific per-layer figures measured after the loop."""
        return {}


class ConfigCompile(Workload):
    """A stream of distinct YAML transform configs over a 100-row input."""

    name = "config_compile"
    CYCLE = len(gen.CC_SHAPES)
    CONFIGS = 20 * CYCLE  # distinct configs before the stream repeats
    SAMPLE = 10

    def generate(self) -> None:
        self.rows = gen.cc_rows(self.seed)
        self.src = os.path.join(self.work, "cc_in")
        os.makedirs(self.src, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(self.rows, schema=gen.CC_SCHEMA),
                       os.path.join(self.src, "part-0.parquet"))
        self.configs = gen.cc_configs(self.seed, self.CONFIGS)
        self.warm = gen.cc_configs(self.seed + 1_000_003, 3)
        self.results: dict[int, list] = {}

    def _run(self, ctx: Context, fields: dict) -> list:
        from config_driven_pyspark_spark import Pipeline

        df = Pipeline.from_yaml(_pipeline_yaml(self.src, fields)).run(ctx.spark)
        return engine.action(ctx.tracer, df)

    def first_use(self, ctx: Context) -> None:
        self._run(ctx, self.warm[0])

    def warmup(self, ctx: Context) -> None:
        for fields in self.warm[1:]:
            self._run(ctx, fields)

    def op(self, ctx: Context, i: int) -> OpResult:
        self.results[i] = self._run(ctx, self.configs[i % self.CONFIGS])
        return OpResult(True, gen.CC_ROWS)

    def after_op(self, ctx: Context, i: int, result: OpResult) -> bool:
        fields = self.configs[i % self.CONFIGS]
        rows = self.results.pop(i)
        ids = set(random.Random(self.seed * 1000 + i).sample(range(gen.CC_ROWS), self.SAMPLE))
        expected = [oracle.transform_row(r, fields) for r in self.rows if r["id"] in ids]
        actual = [r.asDict(recursive=True) for r in rows if r["id"] in ids]
        return len(rows) == gen.CC_ROWS and _same(expected, actual)


class TableCdc(Workload):
    """A partitioned, versioned orders table under CDC merges, deletion
    vector deletes and coalesces, live reads and time-travel reads."""

    KEYS = ["o_orderkey"]
    PARTITION_BY = ["o_year"]

    def generate(self) -> None:
        self.stream = gen.CdcStream(self.seed)
        table = self.stream.table()
        self.bytes_per_row = table.nbytes / table.num_rows
        self.src = os.path.join(self.work, "orders")
        _write_parts(table, self.src, 1)

    def prepare(self, ctx: Context, rnd: int) -> None:
        from config_driven_pyspark_spark.operators import history
        from config_driven_pyspark_spark.sources import writers

        # every round gets its own fresh table directory
        self.root = os.path.join(self.work, "cdc", f"round{rnd}")
        self.path = os.path.join(self.root, "orders")
        writers.stage_sink(ctx.spark.read.parquet(self.src), {
            "format": "parquet", "mode": "overwrite", "path": self.path,
            "partition_by": self.PARTITION_BY,
        })
        history.enable_table_history(ctx.spark, self.path, self.PARTITION_BY)
        self.stream.reset()
        self.model = oracle.CdcModel(self.stream.rows)
        self.model.commit(0)
        self.version = 0
        self.user_bytes = 0.0

    def first_use(self, ctx: Context) -> None:
        if not self._step(ctx, "read").ok:
            raise RuntimeError("table_cdc first read failed")

    def warmup(self, ctx: Context) -> None:
        for kind in ["merge", "read", "time_travel", "delete", "delete", "coalesce", "read"]:
            if not self._step(ctx, kind).ok:
                raise RuntimeError(f"table_cdc warm-up {kind} failed")
        self.start_bytes = engine.dir_bytes(self.root)
        self.user_bytes = 0.0

    def op(self, ctx: Context, i: int) -> OpResult:
        kind = gen.CDC_CYCLE[i % len(gen.CDC_CYCLE)]
        return self._step(ctx, kind)

    def _summary(self, ctx: Context, df) -> tuple:
        from pyspark.sql import functions as F

        key, cents = F.col("o_orderkey"), F.col("o_totalcents")
        agg = df.agg(
            F.count(F.lit(1)), F.sum(key), F.sum(cents),
            F.sum(F.pmod(key * 131 + cents + F.length("o_comment"), F.lit(oracle.CHECKSUM_MOD))),
        )
        row = engine.action(ctx.tracer, agg)[0]
        return tuple(int(v or 0) for v in row)

    def _commit(self, ctx: Context, version) -> None:
        if version is not None:
            self.version = int(version)
            self.model.commit(self.version)

    def _step(self, ctx: Context, kind: str) -> OpResult:
        from config_driven_pyspark_spark.operators import deletes, history, table

        tr = ctx.tracer
        if kind == "merge":
            batch = self.stream.batch(self.model.live)
            df = ctx.spark.createDataFrame(batch, schema=_spark_schema(gen.ORDERS_SCHEMA))
            before = self._files() if tr.enabled else None
            with tr.span("table.merge"):
                stats = table.merge_upsert(df, self.path, self.KEYS, partition_by=self.PARTITION_BY)
                tr.count("table.rows_matched", stats["n_matched"])
            self._track_files(tr, before)
            matched = self.model.upsert(batch)
            self.user_bytes += len(batch) * self.bytes_per_row
            self._commit(ctx, history.table_current_version(ctx.spark, self.path))
            ok = stats["n_matched"] == matched and stats["n_after"] == len(self.model.live)
            return OpResult(ok, len(batch), "merge", "" if ok else f"merge stats {stats}")
        if kind == "delete":
            keys = self.stream.delete_keys(self.model.live)
            cond = f"o_orderkey IN ({', '.join(map(str, keys))})"
            before = self._files() if tr.enabled else None
            with tr.span("deletes.delete"):
                res = table.delete_where(ctx.spark, self.path, cond,
                                         partition_by=self.PARTITION_BY, mode="merge_on_read")
            self._track_files(tr, before)
            self.model.delete(keys)
            self._commit(ctx, history.table_current_version(ctx.spark, self.path))
            ok = res["n_matched"] == len(keys)
            return OpResult(ok, len(keys), "delete", "" if ok else f"delete stats {res}")
        if kind == "coalesce":
            before = self._files() if tr.enabled else None
            with tr.span("deletes.coalesce"):
                res = deletes.coalesce_deletes(ctx.spark, self.path, self.PARTITION_BY)
            self._track_files(tr, before)
            self._commit(ctx, res.get("version"))
            return OpResult(True, 0, "coalesce")
        if kind == "read":
            with tr.span("deletes.read"):
                got = self._summary(ctx, deletes.read_table(ctx.spark, self.path))
            want = self.model.summary()
            return OpResult(got == want, 0, "read", "" if got == want else f"live {got} != {want}")
        # time travel: the third-newest committed version
        versions = sorted(self.model.versions)
        version = versions[max(0, len(versions) - 3)]
        with tr.span("history.time_travel"):
            got = self._summary(ctx, history.read_table_version(ctx.spark, self.path, version))
        want = self.model.versions[version]
        return OpResult(got == want, 0, "time_travel", "" if got == want else f"v{version} {got} != {want}")

    def _files(self) -> dict[str, int]:
        out = {}
        for root, _dirs, names in os.walk(self.root):
            for n in names:
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
        return out

    def _track_files(self, tr, before) -> None:
        if before is None:
            return
        after = self._files()
        new = [p for p in after if p not in before]
        tr.count("table.files_written", len(new))
        tr.count("table.bytes_written", sum(after[p] for p in new))
        dv = os.path.join(self.path, "_deletes")
        tr.count("deletes.pending_dv_files", sum(1 for p in after if p.startswith(dv + os.sep)))

    def final_metrics(self, ctx: Context) -> dict[str, float]:
        total = engine.dir_bytes(self.root)
        retained = engine.dir_bytes(self.path + "__history")
        live = len(self.model.live) * self.bytes_per_row
        return {
            "history.versions": self.version,
            "history.bytes_retained": retained,
            "cdc.space_amp": total / live,
            "cdc.write_amp": (total - self.start_bytes) / self.user_bytes if self.user_bytes else 0.0,
        }


def _spark_schema(schema: pa.Schema) -> str:
    names = {pa.int64(): "bigint", pa.int32(): "int", pa.string(): "string"}
    return ", ".join(f"{f.name} {names[f.type]}" for f in schema)


class Curation(Workload):
    """text normalize -> minhash LSH near-duplicate pairs -> exact dedup."""

    RECALL_FLOOR = 0.95
    MINHASH = {"method": "minhash_lsh", "id_col": "id", "column": "normalized",
               "unit": "word", "k": gen.SHINGLE_K, "num_hashes": 64, "bands": 16,
               "threshold": 0.8, "output": "pairs"}
    EXACT = {"method": "exact", "id_col": "id", "column": "normalized"}

    def generate(self) -> None:
        self.corpus = gen.corpus(self.seed)
        self.src = os.path.join(self.work, "corpus")
        _write_parts(gen.corpus_table(self.corpus), self.src, 4)
        self.out = os.path.join(self.work, "curated")
        self.norm = {i: oracle.normalize_text(t) for i, t in self.corpus.docs}
        seen: dict[str, int] = {}
        for i, t in self.corpus.docs:
            seen.setdefault(self.norm[i], i)
        self.keepers = set(seen.values())
        self.recalls: list[float] = []

    def _normalized(self, ctx: Context, src: str):
        from config_driven_pyspark_spark.functions import text
        from config_driven_pyspark_spark.sources import readers

        tr = ctx.tracer
        with tr.span("sources.source"):
            df = readers.stage_source(ctx.spark, {"format": "parquet", "path": src})
        with tr.span("text.normalize"):
            return text.stage_text(df, {"column": "text", "ops": ["normalized"]})

    def _run(self, ctx: Context, src: str):
        from config_driven_pyspark_spark.operators import dedup

        tr = ctx.tracer
        norm = self._normalized(ctx, src)
        with tr.span("dedup.minhash"):
            pairs = engine.action(tr, dedup.stage_dedup(norm, self.MINHASH))
            tr.count("dedup.verified_pairs", len(pairs))
        with tr.span("dedup.exact"):
            kept = dedup.stage_dedup(norm, self.EXACT).select("id", "normalized")
            engine.sink(tr, kept, {"format": "parquet", "mode": "overwrite", "path": self.out})
        return pairs

    def first_use(self, ctx: Context) -> None:
        from config_driven_pyspark_spark.operators import dedup

        norm = self._normalized(ctx, self.src)
        engine.action(ctx.tracer, dedup.stage_dedup(norm, self.EXACT).select("id"))

    def warmup(self, ctx: Context) -> None:
        self._run(ctx, self.src)
        ctx.spark.catalog.clearCache()

    def op(self, ctx: Context, i: int) -> OpResult:
        self.last = self._run(ctx, self.src)
        return OpResult(True, len(self.corpus.docs), "curate")

    def after_op(self, ctx: Context, i: int, result: OpResult) -> bool:
        # the dedup operator persists intermediates it never releases; drop
        # them so no operation reads another one's cached blocks
        ctx.spark.catalog.clearCache()
        pairs = self.last
        kept = pq.read_table(self.out, columns=["id"]).column("id").to_pylist()
        found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in pairs}
        planted = self.corpus.near_pairs
        self.recalls.append(len(planted & found) / len(planted))
        precise = all(
            oracle.jaccard(self.norm[a], self.norm[b]) >= self.MINHASH["threshold"] - 1e-9
            for a, b in found
        )
        exact_ok = len(kept) == len(self.keepers) and set(kept) == self.keepers
        return precise and exact_ok and self.recalls[-1] >= self.RECALL_FLOOR

    def final_metrics(self, ctx: Context) -> dict[str, float]:
        out = {"dedup.recall": statistics.median(self.recalls) if self.recalls else 0.0}
        if ctx.tracer.enabled:
            from config_driven_pyspark_spark.operators import dedup

            spec = dict(self.MINHASH, verify=False)
            candidates = dedup.stage_dedup(self._normalized(ctx, self.src), spec).count()
            ctx.spark.catalog.clearCache()
            verified = len(self.last)
            out["dedup.candidate_pairs"] = candidates
            out["dedup.verify_ratio"] = verified / candidates if candidates else 0.0
        return out


class CdcCuration(Workload):
    """One data-platform client: the ``TableCdc`` op cycle on a versioned
    orders table, then one ``Curation`` pass over a document corpus. The
    two share a session, so one warm JVM serves the table and the
    hash/shuffle-heavy corpus operators alike."""

    name = "cdc_curation"
    CYCLE = len(gen.CDC_CYCLE) + 1

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.cdc = TableCdc(seed, work)
        self.curation = Curation(seed, work)

    def generate(self) -> None:
        self.cdc.generate()
        self.curation.generate()

    def prepare(self, ctx: Context, rnd: int) -> None:
        self.cdc.prepare(ctx, rnd)

    def first_use(self, ctx: Context) -> None:
        self.cdc.first_use(ctx)
        self.curation.first_use(ctx)

    def warmup(self, ctx: Context) -> None:
        self.cdc.warmup(ctx)
        self.curation.warmup(ctx)

    def _part(self, i: int) -> Workload:
        return self.curation if i % self.CYCLE == len(gen.CDC_CYCLE) else self.cdc

    def op(self, ctx: Context, i: int) -> OpResult:
        return self._part(i).op(ctx, i % self.CYCLE)

    def after_op(self, ctx: Context, i: int, result: OpResult) -> bool:
        return self._part(i).after_op(ctx, i % self.CYCLE, result)

    def final_metrics(self, ctx: Context) -> dict[str, float]:
        return {**self.cdc.final_metrics(ctx), **self.curation.final_metrics(ctx)}


WORKLOADS = {w.name: w for w in (ConfigCompile, CdcCuration)}
