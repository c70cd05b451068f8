"""The benchmark's workloads: inputs, the timed iteration, verification,
and the staged (per-layer) sections of the traced run.

Every workload drives the engine only through its public functions:
``fixtures.generate_images`` / ``generate_events_and_queries``,
``northrule.run`` and the per-stage functions behind it,
``checkpoint.checkpointed_northrule``, and ``__spark_entry__.queries()`` /
``oracle_sql()``.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench.digest import allclose_tables, arrow_digest, frame_digest

# images, entities, events, queries of the benchmark's inputs. The image
# table is a seed-independent catalog; events and queries come from
# --seed. The fixture generator gives the first 4 entities 20% of all
# events: 1,200 each here, against at most ~660 for any other entity.
FIXTURE_SCALE = (1_500, 48, 24_000, 12_000)
IMAGE_SEED = 42
# the skew section's settings: exactly the 4 hot entities reach
# HOT_MIN_ROWS, and each splits into 1,200 // HOT_TARGET_ROWS = 8 buckets;
# the as-of join takes its 3-pass bucketed path with 30-day buckets.
HOT_MIN_ROWS = 1_000
HOT_TARGET_ROWS = 150
ASOF_TIME_BUCKETS = 8
ASOF_BUCKET_WIDTH_US = 30 * 86_400 * 1_000_000
TEMPORAL = 7  # feature_vector[:7] are the event-stream (non-pixel) features
# the 13 non-flagship queries of bench.py's headline set
DRIVER_SUITE = [
    "asof_strict", "asof_bucketed", "sessionize", "rolling_rows",
    "forward_fill", "pricing_summary", "region_revenue", "top_tokens",
    "exact_dedup", "minhash_pairs", "simhash_pairs", "kfold_target_encode",
    "knn_bruteforce",
]
DRIVER_TABLES = ["events", "documents", "embeddings", "lineitem", "orders",
                 "customer", "nation", "region"]


@dataclass
class Ctx:
    spark: object
    seed: int
    cores: int
    cache_dir: str
    data_dir: str
    oracles: dict
    paths: dict = field(default_factory=dict)


@dataclass
class Outcome:
    rows: int
    digest: str
    detail: dict = field(default_factory=dict)


def _noop_scan(spark, path: str) -> None:
    spark.read.parquet(path).write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------- north rule


class BackfillPixels:
    """``northrule.run`` with default options: the headline feature job.

    Its traced run adds three sections beside the staged layers: the skew
    machinery (hot-entity detection, the bucketed window path and the
    as-of join's 3-pass path), ``checkpointed_northrule`` computing and
    then resuming every stage, and the Spark-free decode floor."""

    name = "backfill_pixels"
    layers = ["decode", "window", "asof", "assemble", "audit"]
    # iterations 1 and 2 after the cold one run 10-40% slower than the rest
    warmup_iterations = 2

    # ------------------------------------------------------------ inputs

    @staticmethod
    def input_paths(ctx: Ctx) -> dict:
        from dagli_spark.fixtures import GEN_VERSION

        root = os.path.join(ctx.cache_dir, "inputs", str(os.getpid()))
        images = f"images_seed{IMAGE_SEED}_{FIXTURE_SCALE[0]}_g{GEN_VERSION}"
        return {"images": os.path.join(ctx.cache_dir, images),
                **{t: os.path.join(root, t) for t in ("image_events", "queries")}}

    def prepare(self, ctx: Ctx) -> float:
        """Generate this run's inputs with the fixture module's own
        generators; returns the generation time. The image catalog does
        not depend on the seed and is generated once per checkout; events
        and queries are generated afresh in every run, so the JVM that is
        measured next has the same history whether or not an earlier run
        used the same seed."""
        from dagli_spark import fixtures

        ctx.paths = self.input_paths(ctx)
        self.cleanup(ctx)
        n_img, n_ent, n_ev, n_q = FIXTURE_SCALE
        t0 = time.perf_counter()
        if not os.path.exists(os.path.join(ctx.paths["images"], "_SUCCESS")):
            part = f"{ctx.paths['images']}.{os.getpid()}"
            fixtures.generate_images(ctx.spark, n_img, seed=IMAGE_SEED) \
                .write.mode("overwrite").parquet(part)
            shutil.rmtree(ctx.paths["images"], ignore_errors=True)
            os.rename(part, ctx.paths["images"])
        images = ctx.spark.read.parquet(ctx.paths["images"])
        events, queries = fixtures.generate_events_and_queries(
            ctx.spark, images, n_img, n_ent, n_ev, n_q, seed=ctx.seed)
        events.write.parquet(ctx.paths["image_events"])
        queries.write.parquet(ctx.paths["queries"])
        return time.perf_counter() - t0

    def setup(self, ctx: Ctx) -> float:
        """Materialize (the inputs are found complete) plus the input warm
        scan; returns the warm-scan time."""
        ctx.paths = self.input_paths(ctx)
        missing = [p for p in ctx.paths.values()
                   if not os.path.exists(os.path.join(p, "_SUCCESS"))]
        if missing:
            raise FileNotFoundError(f"inputs not materialized: {missing}")
        t0 = time.perf_counter()
        for p in ctx.paths.values():
            _noop_scan(ctx.spark, p)
        return time.perf_counter() - t0

    def cleanup(self, ctx: Ctx) -> None:
        shutil.rmtree(os.path.dirname(self.input_paths(ctx)["queries"]),
                      ignore_errors=True)

    def frames(self, ctx: Ctx):
        r = ctx.spark.read.parquet
        return (r(ctx.paths["queries"]), r(ctx.paths["image_events"]),
                r(ctx.paths["images"]))

    # -------------------------------------------------------- iteration

    @staticmethod
    def digest(out) -> Outcome:
        """One evaluation of the whole output. The leakage counters of
        ``northrule.leakage_audit`` and the digest of the temporal
        (non-pixel) features ride on the same aggregate."""
        from pyspark.sql import functions as F

        from dagli_spark.operators.asof import MATCHED_TIME

        matched = F.col(MATCHED_TIME)
        n, d, extra = frame_digest(
            out,
            parts={"temporal": [F.col("entity_id"), F.col("asof_time"),
                                F.col("qseq"), matched,
                                F.slice("feature_vector", 1, TEMPORAL)]},
            counts={"violations": matched > F.col("asof_time"),
                    "no_history_rows": matched.isNull()})
        return Outcome(n, d, extra)

    def iteration(self, ctx: Ctx, tr=None) -> Outcome:
        from dagli_spark.northrule import run

        return self.digest(run(ctx.spark, ctx.paths))

    def check(self, outcome: Outcome) -> list[str]:
        return ([f"{outcome.detail['violations']} rows saw a later event"]
                if outcome.detail["violations"] else [])

    def verify(self, ctx: Ctx) -> tuple[Outcome, list[str]]:
        """``leakage_audit``, the digest, and the DuckDB oracle replay of
        the flagship on this seed's inputs, from one persisted evaluation."""
        from pyspark.sql import functions as F

        from dagli_spark.northrule import leakage_audit, run

        sql = oracle_sql_for(ctx.oracles["northrule_features"], ctx.paths)
        problems = []
        with ThreadPoolExecutor(1) as pool:  # DuckDB runs beside Spark
            oracle = pool.submit(lambda: _duck(ctx).execute(sql).arrow())
            out = run(ctx.spark, ctx.paths).persist()
            try:
                audit = leakage_audit(out)
            except AssertionError as e:  # violations raise
                audit = {}
                problems.append(str(e))
            n, d, _ = frame_digest(out)
            vec = F.transform(F.col("feature_vector"), lambda v: F.round(v, 4))
            got = out.select("entity_id", "asof_time", "qseq",
                             F.posexplode(vec).alias("pos", "value")).toArrow()
            out.unpersist()
            exp = oracle.result()
        why = allclose_tables(got, exp, ["entity_id", "asof_time", "qseq", "pos"],
                              "value", atol=1e-6)
        if why:
            problems.append(f"flagship oracle: {why}")
        return Outcome(n, d, {"audit": audit, "oracle_rows": got.num_rows}), problems

    # ------------------------------------------------------------ traced

    def staged(self, ctx: Ctx, tr, reference: Outcome) -> tuple[dict, list[str]]:
        layers = self._layers(ctx, tr)
        skew, skew_problems = self._skew(ctx, tr, reference)
        ckpt, ckpt_problems = self._checkpoint(ctx, tr, reference)
        return {**layers, **skew, **ckpt}, skew_problems + ckpt_problems

    def _layers(self, ctx: Ctx, tr) -> dict:
        """The fused pipeline cut at its layers, each materialized under
        its own span, so a span's self time is that layer's cost."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from dagli_spark.northrule import (
            asof_features, assemble_vector, event_features, image_stats,
            leakage_audit)

        queries, events, images = self.frames(ctx)
        keep = StorageLevel.MEMORY_AND_DISK
        with tr.span("staged"):
            with tr.span("decode"):
                stats = image_stats(events, images).persist(keep)
                r = stats.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("px_mean_r").isNull().cast("long")).alias("nulls"),
                ).first()
            with tr.span("window"):
                feats = event_features(events, images, with_pixels=False).persist(keep)
                feats.count()
            with tr.span("asof"):
                joined = asof_features(queries, feats).persist(keep)
                joined.count()
            with tr.span("assemble"):
                frame_digest(assemble_vector(joined))  # every assembled column
            with tr.span("audit"):
                audit = leakage_audit(assemble_vector(joined))
        for df in (stats, feats, joined):
            df.unpersist()
        return {"decode.images": int(r["n"]), "decode.null_rows": int(r["nulls"] or 0),
                "audit.violations": audit["violations"],
                "asof.no_history_rows": audit["no_history_rows"]}

    def _skew(self, ctx: Ctx, tr, reference: Outcome) -> tuple[dict, list[str]]:
        """Both hot-entity mechanisms on this seed's 4 hot entities: the
        bucketed window path and the as-of join's 3-pass path. Their
        temporal features must equal the plain path's."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from dagli_spark.northrule import (
            asof_features, assemble_vector, detect_hot_entities, event_features)

        queries, events, images = self.frames(ctx)
        with tr.span("skew"):
            with tr.span("skew.detect"):
                hot = detect_hot_entities(events, HOT_MIN_ROWS)
            with tr.span("skew.window"):
                feats = event_features(
                    events, images, with_pixels=False, hot_rows=hot,
                    hot_target_rows=HOT_TARGET_ROWS).persist(StorageLevel.MEMORY_AND_DISK)
                feats.count()
            with tr.span("skew.asof"):
                got = self.digest(assemble_vector(asof_features(
                    queries, feats, time_buckets=ASOF_TIME_BUCKETS,
                    bucket_width=F.lit(ASOF_BUCKET_WIDTH_US))))
        feats.unpersist()
        problems = []
        if got.detail["temporal"] != reference.detail["temporal"]:
            problems.append("skew paths' temporal features differ from the plain path")
        return {"skew.hot_entities": len(hot)}, problems

    def _checkpoint(self, ctx: Ctx, tr, reference: Outcome) -> tuple[dict, list[str]]:
        """``checkpointed_northrule`` into a fresh root: every stage
        computed and written, then the same call resumed from them."""
        from dagli_spark.checkpoint import Checkpointer, checkpointed_northrule

        root = os.path.join(ctx.cache_dir, "ckpt", f"seed{ctx.seed}-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        with tr.span("ckpt"):
            with tr.span("ckpt.compute"):
                first = self.digest(checkpointed_northrule(ctx.spark, ctx.paths, root))
            with tr.span("ckpt.resume"):
                again = self.digest(checkpointed_northrule(ctx.spark, ctx.paths, root))
        walls = {m["stage"]: m["wall_sec"] for m in Checkpointer(root).metrics()
                 if m["event"] == "computed"}
        written = _tree_bytes(root, ".parquet")
        output = sum(_tree_bytes(os.path.join(root, d), ".parquet")
                     for d in os.listdir(root) if d.startswith("asof_assemble_"))
        shutil.rmtree(root, ignore_errors=True)
        out = {
            "ckpt.event_features_s": walls.get("event_features", 0.0),
            "ckpt.asof_assemble_s": walls.get("asof_assemble", 0.0),
            "ckpt.bytes_written": written,
            "ckpt.write_amp": written / output if output else 0.0,
        }
        problems = [f"checkpointed {name} output differs from northrule.run"
                    for name, o in (("computed", first), ("resumed", again))
                    if o.digest != reference.digest]
        return out, problems


# --------------------------------------------------------- driver suite


class DriverSuite:
    """The 13 non-flagship headline queries through
    ``__spark_entry__.queries()``, each collected to the driver; one pass
    over all 13 is one iteration. The input is the committed copy of the
    seed-42 sf0.01 testdata, so ``--seed`` does not apply."""

    name = "driver_suite"
    layers = [f"query.{q}" for q in DRIVER_SUITE]
    # a pass (10-15 s) outlasts the window, so a run times one steady pass;
    # a warm-up pass would add a quarter to the run
    warmup_iterations = 0

    def prepare(self, ctx: Ctx) -> float:
        """The DuckDB oracle's digest of each query that has one."""
        missing = [t for t in DRIVER_TABLES
                   if not os.path.exists(self._table(ctx, t))]
        if missing:
            raise FileNotFoundError(f"driver_suite tables missing: {missing}")
        con = _duck(ctx)
        for t in DRIVER_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self._table(ctx, t)}'")
        self.expected = {q: arrow_digest(con.execute(ctx.oracles[q]).arrow())
                         for q in DRIVER_SUITE if q in ctx.oracles}
        return 0.0  # committed input: nothing to generate

    def cleanup(self, ctx: Ctx) -> None:
        pass

    @staticmethod
    def _table(ctx: Ctx, t: str) -> str:
        return os.path.join(ctx.data_dir, f"{t}.parquet")

    def setup(self, ctx: Ctx) -> float:
        t0 = time.perf_counter()
        for t in DRIVER_TABLES:
            _noop_scan(ctx.spark, self._table(ctx, t))
        return time.perf_counter() - t0

    def iteration(self, ctx: Ctx, tr=None) -> Outcome:
        import __spark_entry__ as entry

        qs = entry.queries()
        digests, rows = {}, 0
        for q in DRIVER_SUITE:
            if tr is None:
                table = qs[q](ctx.spark, ctx.data_dir).toArrow()
            else:
                with tr.span(f"query.{q}"):
                    table = qs[q](ctx.spark, ctx.data_dir).toArrow()
            # digest outside any span: verification is not the workload
            digests[q] = arrow_digest(table)
            rows += table.num_rows
            ctx.spark.catalog.clearCache()  # no query pays for another's cache
        return Outcome(rows, repr(sorted(digests.items())), {"digests": digests})

    def check(self, outcome: Outcome) -> list[str]:
        """Each oracle-backed query's rows against its DuckDB oracle."""
        return [f"{q}: rows differ from the DuckDB oracle"
                for q, exp in self.expected.items()
                if outcome.detail["digests"][q] != exp]

    def verify(self, ctx: Ctx) -> tuple[None, list[str]]:
        return None, []  # every iteration is checked by :meth:`check`

    def staged(self, ctx: Ctx, tr, reference: Outcome) -> tuple[dict, list[str]]:
        return {}, []  # the traced fused pass already spans every query


WORKLOADS = {w.name: w for w in (BackfillPixels, DriverSuite)}


# ------------------------------------------------------------- helpers


def oracle_sql_for(sql: str, paths: dict) -> str:
    """The flagship oracle, which reads the correctness-tier fixture, aimed
    at the tables in ``paths`` instead."""
    from dagli_spark.fixtures import fixture_root

    root = fixture_root("correctness")
    for table, path in paths.items():
        sql = sql.replace(f"'{root}/{table}/", f"'{path}/")
    if root in sql:
        raise ValueError("flagship oracle reads a table the benchmark does not map")
    return sql


def _duck(ctx: Ctx):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={ctx.cores}")
    con.execute(f"SET temp_directory='{os.path.join(ctx.cache_dir, 'duckdb')}'")
    return con


def _tree_bytes(path: str, suffix: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f))
                     for f in files if f.endswith(suffix))
    return total
