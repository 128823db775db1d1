"""The benchmark workloads: inputs, one pass through the package, and checks.

Each workload is a closed loop with one caller: a pass calls the package's
public functions one after another, each call starting when the previous
one has finished.  A pass returns its timings and the outputs the checks
need; ``expect`` computes the independent answers once, outside the timed
region, and ``check`` compares a pass against them.

With a tracer, every call into a layer runs inside a span named after the
layer's module, and the layer's output is materialized at the span's end
(``localCheckpoint``) so that spans never overlap.  Without one, the pass
runs the same calls unmaterialized.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution_spark.functions.features import FeatureSpec
from entity_resolution_spark.functions.similarity import jaro_winkler_py
from entity_resolution_spark.operators import blocking, components, klsh, pairs
from entity_resolution_spark.plans import pipeline
from entity_resolution_spark.streaming.continuous_er import ContinuousER

import gen
import oracle
from spans import Tracer

CFG = pipeline.ERConfig()
CAP = CFG.max_block_size
# A surviving block this close to the purge cap means a different seed could
# flip it into a purged one; the workload sizes keep every block far below.
NEAR_CAP = 0.8
K_TOP = 10
KLSH_SPEC = FeatureSpec(
    numeric_cols=("n_chars", "n_tokens"), date_cols=(("warc_ts", "2019-01-01", 3650),)
)


@dataclass
class Ctx:
    """One pass's view of the session: traced when ``tracer`` is set."""

    spark: SparkSession
    tracer: Tracer | None = None
    outputs: dict[str, DataFrame] = field(default_factory=dict)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext({})

    def mat(self, name: str, df: DataFrame) -> DataFrame:
        """Traced: materialize ``df`` inside the open span and count it."""
        if self.tracer is None:
            return df
        df = df.localCheckpoint(eager=True)
        self.tracer.current()["rows_out"] = df.count()
        self.outputs[name] = df
        return df

    def layer(self, name: str, make) -> DataFrame:
        with self.span(name):
            return self.mat(name, make())


@dataclass
class PassResult:
    wall_s: float
    ops: int = 1
    timings: dict[str, float] = field(default_factory=dict)
    out: dict = field(default_factory=dict)
    error: str | None = None


# ---------------------------------------------------------------------------
# shared steps
# ---------------------------------------------------------------------------


def _edges_from_recs(ctx: Ctx, recs: DataFrame, cfg=CFG) -> DataFrame:
    blocks = ctx.layer(
        "blocking", lambda: blocking.block(recs, cfg.stages, max_block_size=cfg.max_block_size)
    )
    return ctx.layer(
        "pairs", lambda: pairs.prune(pairs.edge_weights(blocks), cfg.prune_threshold)
    )


def resolve(ctx: Ctx, pages: DataFrame, cfg=CFG) -> DataFrame:
    """``pipeline.resolve``, materialized.  Traced, the same steps run one
    layer at a time (text → blocking → pairs → components)."""
    if ctx.tracer is None:
        return pipeline.resolve(pages, cfg).localCheckpoint(eager=True)
    recs = ctx.layer("text", lambda: pipeline.extract(pages).select("record_id", "url", "title"))
    pruned = _edges_from_recs(ctx, recs, cfg)
    return ctx.layer(
        "components",
        lambda: recs.select("record_id", "url").join(
            components.assign_components(
                recs.select("record_id"),
                pruned.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
            ),
            "record_id",
        ),
    )


def pruned_edges(ctx: Ctx, pages: DataFrame) -> DataFrame:
    recs = ctx.layer("text", lambda: pipeline.extract(pages).select("record_id", "title"))
    return _edges_from_recs(ctx, recs)


def timed_resolve(ctx: Ctx, pages: DataFrame, res: PassResult, cfg=CFG) -> DataFrame:
    t = time.perf_counter()
    with ctx.span("resolve"):
        a = resolve(ctx, pages, cfg)
        res.out["assignment"] = a.select("url", "component_id").toArrow()
    res.timings["resolve_s"] = time.perf_counter() - t
    return a


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    df.count()
    return df


def assignment_labels(tbl: pa.Table) -> dict:
    return dict(zip(tbl.column("url").to_pylist(), tbl.column("component_id").to_pylist()))


def check_partition(labels: dict, expected: frozenset, what: str) -> list[str]:
    got = oracle.partition(labels.keys(), labels.values())
    if got == expected:
        return []
    return [f"{what}: {len(got ^ expected)} clusters differ from the oracle"]


def block_stats(spark: SparkSession, titles_df: DataFrame) -> dict:
    """Engine-side block sizes before purging: purged keys, largest
    surviving block and Σ n(n−1)/2 over surviving blocks."""
    sizes = blocking.block_sizes(blocking.block(titles_df, CFG.stages, max_block_size=None))
    r = sizes.agg(
        F.sum((F.col("block_size") > CAP).cast("long")).alias("purged"),
        F.max(F.when(F.col("block_size") <= CAP, F.col("block_size"))).alias("max_block"),
        F.sum(
            F.when(
                F.col("block_size") <= CAP,
                F.col("block_size") * (F.col("block_size") - 1) / 2,
            )
        ).alias("predicted"),
    ).collect()[0]
    return {
        "purged_keys": int(r["purged"] or 0),
        "max_block": int(r["max_block"] or 0),
        "predicted_pair_rows": int(r["predicted"] or 0),
    }


def oracle_block_errors(sizes: dict[str, int], engine: dict) -> list[str]:
    errs = []
    kept = [n for n in sizes.values() if n <= CAP]
    want = {"purged_keys": sum(n > CAP for n in sizes.values()), "max_block": max(kept)}
    for k, v in want.items():
        if engine[k] != v:
            errs.append(f"blocking.{k}: engine {engine[k]} != oracle {v}")
    if not any(NEAR_CAP * CAP < n <= CAP / NEAR_CAP for n in sizes.values()):
        return errs
    return errs + [f"a block size sits within {NEAR_CAP:.0%} of the purge cap {CAP}"]


def page_titles(pages) -> list[tuple[str, str]]:
    return [(u, t.split("\n", 1)[0]) for u, t in zip(pages["url"], pages["text"])]


def f1_of(labels: dict, truth: dict) -> tuple[int, int, int, float]:
    tp, fp, fn = oracle.pair_counts(labels, truth)
    return tp, fp, fn, oracle.f1(tp, fp, fn)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    name: str

    def __init__(self, seed: int, scale: float) -> None:
        self.seed = seed
        self.scale = scale

    def n(self, base: int) -> int:
        return max(4, int(round(base * self.scale)))

    def inputs(self, st: dict) -> dict:
        """The generated tables, for the result's content hashes."""
        c = st["main"]["corpus"]
        return {"pages": c.pages, "truth": c.truth}

    def layer_counts(self, ctx: Ctx, res: PassResult, exp: dict) -> dict[str, float]:
        """Layer-specific counts from the last traced pass's materialized
        layer outputs, computed after the pass, outside every span."""
        o, c = ctx.outputs, {}
        if "blocking" in o:
            c.update({f"blocking.{k}": v for k, v in exp["blocks"].items()})
        if "pairs" in o:
            e = pairs.edge_weights(o["blocking"]).agg(
                F.count("*").alias("edges"), F.sum("weight").alias("rows")
            ).collect()[0]
            c["pairs.pair_rows"], c["pairs.edges"] = e["rows"], e["edges"]
            c["pairs.dup_ratio"] = e["rows"] / e["edges"]
            c["pairs.keep_ratio"] = o["pairs"].count() / e["edges"]
        if "components" in o:
            r = (
                o["components"].groupBy("component_id").count()
                .agg(F.count("*").alias("n"), F.max("count").alias("largest"))
                .collect()[0]
            )
            c["components.components"], c["components.largest"] = r["n"], r["largest"]
        if "klsh" in o:
            per = o["klsh"].groupBy("component_id").agg(
                F.countDistinct("k").alias("ks"), F.countDistinct("record_id").alias("rows")
            )
            r = per.agg(
                F.count("*").alias("n"), F.sum("ks").alias("fits"), F.max("rows").alias("mx")
            ).collect()[0]
            c["klsh.fits"], c["klsh.max_component_rows"] = r["fits"], r["mx"]
            c["klsh.useful_ratio"] = r["n"] / r["fits"]
        return c


class PlantedER(Workload):
    """resolve → encoder_similarity → klsh_sweep + best_k → evaluate."""

    name = "planted_er"
    ENTITIES, HOT = 150, 100

    def setup(self, spark: SparkSession, work: str) -> dict:
        st = {}
        for tag, div in (("main", 1), ("warm", 8)):
            c = gen.planted_pages(
                self.n(self.ENTITIES) // div, self.seed, hot_rows=self.n(self.HOT) // div
            )
            path = os.path.join(work, f"planted_{tag}.parquet")
            gen.write_parquet(c.pages, path)
            gen.write_parquet(c.truth, os.path.join(work, f"truth_{tag}.parquet"))
            st[tag] = {
                "corpus": c,
                "path": path,
                "pages": read_parquet(spark, path),
                "truth": read_parquet(spark, os.path.join(work, f"truth_{tag}.parquet")),
            }
        return st

    def run_pass(self, ctx: Ctx, st: dict, tag: str = "main") -> PassResult:
        d = st[tag]
        pages, truth = d["pages"], d["truth"]
        res = PassResult(wall_s=0.0)
        t0 = time.perf_counter()
        a = timed_resolve(ctx, pages, res)
        pruned = pruned_edges(ctx, pages)
        with ctx.span("encoder"):
            r = (
                pipeline.encoder_similarity(pages, pruned)
                .agg(
                    F.count("*").alias("n"),
                    F.count("enc_sim").alias("nn"),
                    F.min("enc_sim").alias("lo"),
                    F.max("enc_sim").alias("hi"),
                )
                .collect()[0]
            )
            res.out["encoder"] = r.asDict()
        feats = pages.select(
            F.xxhash64("url").alias("record_id"),
            F.length("text").alias("n_chars"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            "warc_ts",
        ).join(a.select("record_id", "component_id"), "record_id")
        with ctx.span("klsh"):
            sweep = ctx.mat("klsh", klsh.klsh_sweep(feats, KLSH_SPEC, k_top=K_TOP))
            res.out["best_k"] = klsh.best_k_unsupervised(sweep).select("best_k").toArrow()
        with ctx.span("evaluate"):
            res.out["eval"] = pipeline.evaluate_against_truth(a, truth).collect()[0].asDict()
        res.wall_s = time.perf_counter() - t0
        return res

    def expect(self, spark: SparkSession, st: dict) -> dict:
        c = st["main"]["corpus"]
        part, n_pruned, sizes = oracle.resolve(page_titles(c.pages), CAP)
        recs = pipeline.extract(st["main"]["pages"]).select("record_id", "title")
        stats = block_stats(spark, recs)
        return {
            "partition": part,
            "n_pruned": n_pruned,
            "truth": dict(zip(c.truth["url"], c.truth["entity_id"])),
            "blocks": stats,
            "errors": oracle_block_errors(sizes, stats),
            "pages": len(c.pages),
        }

    def check(self, res: PassResult, exp: dict) -> list[str]:
        labels = assignment_labels(res.out["assignment"])
        errs = check_partition(labels, exp["partition"], "resolve")
        tp, fp, fn, f1 = f1_of(labels, exp["truth"])
        res.out["pair_f1"] = f1
        ev = res.out["eval"]
        if (ev["tp"], ev["fp"], ev["fn"]) != (tp, fp, fn):
            errs.append(f"evaluate: {(ev['tp'], ev['fp'], ev['fn'])} != {(tp, fp, fn)}")
        enc = res.out["encoder"]
        if not (enc["n"] == enc["nn"] == exp["n_pruned"] and 0 <= enc["lo"] <= enc["hi"] <= 1):
            errs.append(f"encoder: {enc} over {exp['n_pruned']} pruned edges")
        ks = res.out["best_k"].column("best_k").to_numpy()
        n_comp = len(set(labels.values()))
        if len(ks) != n_comp or ks.min() < 1 or ks.max() > K_TOP:
            errs.append(f"klsh: {len(ks)} best-k rows for {n_comp} components")
        return errs

    def metrics(self, res: PassResult, exp: dict) -> dict:
        return {
            "resolve_pages_per_s": exp["pages"] / res.timings["resolve_s"],
            "pair_f1": res.out["pair_f1"],
        }

    def layer_counts(self, ctx: Ctx, res: PassResult, exp: dict) -> dict[str, float]:
        ev = res.out["eval"]
        return {
            **super().layer_counts(ctx, res, exp),
            "encoder.records": exp["pages"],
            "encoder.pairs": res.out["encoder"]["n"],
            "evaluate.tp": ev["tp"], "evaluate.fp": ev["fp"], "evaluate.fn": ev["fn"],
        }


class DenseBlocks(Workload):
    """resolve → score (lev + JW + TF-IDF) on the pruned edges."""

    name = "dense_blocks"
    PAGES = 1200
    SAMPLE_MOD = 16  # md5-sampled share of scored pairs re-checked in Python

    def setup(self, spark: SparkSession, work: str) -> dict:
        st = {}
        for tag, div in (("main", 1), ("warm", 8)):
            c = gen.dense_pages(self.n(self.PAGES) // div, self.seed)
            path = os.path.join(work, f"dense_{tag}.parquet")
            gen.write_parquet(c.pages, path)
            st[tag] = {"corpus": c, "path": path, "pages": read_parquet(spark, path)}
        return st

    def run_pass(self, ctx: Ctx, st: dict, tag: str = "main") -> PassResult:
        pages = st[tag]["pages"]
        res = PassResult(wall_s=0.0)
        t0 = time.perf_counter()
        timed_resolve(ctx, pages, res)
        pruned = pruned_edges(ctx, pages)
        if ctx.tracer is None:
            pruned = pruned.localCheckpoint(eager=True)
        t = time.perf_counter()
        with ctx.span("similarity"):
            r = pipeline.score(pages, pruned).agg(*_score_digest()).collect()[0]
        res.timings["score_s"] = time.perf_counter() - t
        res.out["score"] = r.asDict()
        res.wall_s = time.perf_counter() - t0
        return res

    def expect(self, spark: SparkSession, st: dict) -> dict:
        c, path = st["main"]["corpus"], st["main"]["path"]
        part, _, sizes = oracle.resolve(page_titles(c.pages), CAP)
        pages = st["main"]["pages"]
        recs = pipeline.extract(pages).select("record_id", "url", "title")
        stats = block_stats(spark, recs.select("record_id", "title"))
        errors = oracle_block_errors(sizes, stats)
        # pruned edges, keyed by url, against DuckDB
        pruned = pairs.prune(
            pairs.edge_weights(blocking.block(recs, CFG.stages, max_block_size=CAP))
        ).localCheckpoint(eager=True)
        urls = recs.select("record_id", "url")
        by_url = (
            pruned.join(urls.withColumnRenamed("record_id", "id1").withColumnRenamed("url", "a"), "id1")
            .join(urls.withColumnRenamed("record_id", "id2").withColumnRenamed("url", "b"), "id2")
            .select(F.least("a", "b").alias("u1"), F.greatest("a", "b").alias("u2"), "weight")
        )
        spark_ck = by_url.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(_md5_60(F.concat_ws("|", "u1", "u2", "weight"))), F.lit(0)).alias("h"),
        ).collect()[0]
        duck_ck = oracle.duckdb_pruned_checksum(path, CAP)
        if (spark_ck["n"], spark_ck["h"]) != duck_ck:
            errors.append(f"pruned edges: spark {tuple(spark_ck)} != duckdb {duck_ck}")
        # the full scored table once, untimed: its digest is what every pass
        # must reproduce; lev and JW are recomputed in Python on a sample
        scored = pipeline.score(pages, pruned).localCheckpoint(eager=True)
        digest = scored.agg(*_score_digest()).collect()[0].asDict()
        t1 = recs.select(F.col("record_id").alias("id1"), F.col("title").alias("t1"))
        t2 = recs.select(F.col("record_id").alias("id2"), F.col("title").alias("t2"))
        sample = (
            scored.where(
                F.pmod(_md5_60(F.concat_ws("|", "id1", "id2")), F.lit(self.SAMPLE_MOD)) == 0
            )
            .join(t1, "id1")
            .join(t2, "id2")
            .select("t1", "t2", "lev", "jaro_winkler")
            .collect()
        )
        bad = [
            r for r in sample
            if r["lev"] != oracle.levenshtein(r["t1"], r["t2"])
            or abs(r["jaro_winkler"] - jaro_winkler_py(r["t1"], r["t2"])) > 1e-12
        ]
        if not sample or bad:
            errors.append(f"score: {len(bad)} of {len(sample)} sampled pairs disagree with Python lev/JW")
        return {
            "partition": part,
            "truth": dict(zip(c.truth["url"], c.truth["entity_id"])),
            "digest": digest,
            "blocks": stats,
            "errors": errors,
            "pages": len(c.pages),
        }

    def check(self, res: PassResult, exp: dict) -> list[str]:
        labels = assignment_labels(res.out["assignment"])
        errs = check_partition(labels, exp["partition"], "resolve")
        res.out["pair_f1"] = f1_of(labels, exp["truth"])[3]
        if res.out["score"] != exp["digest"]:
            errs.append(f"score digest {res.out['score']} != {exp['digest']}")
        return errs

    def metrics(self, res: PassResult, exp: dict) -> dict:
        return {
            "resolve_pages_per_s": exp["pages"] / res.timings["resolve_s"],
            "pair_f1": res.out["pair_f1"],
            "pairs_scored_per_s": res.out["score"]["n"] / res.timings["score_s"],
        }

    def layer_counts(self, ctx: Ctx, res: PassResult, exp: dict) -> dict[str, float]:
        return {**super().layer_counts(ctx, res, exp), "similarity.pairs": res.out["score"]["n"]}


def _md5_60(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _score_digest():
    """Order-free digest of a scored-pair table: count, xor of per-row
    hashes over (id1, id2, lev, JW to 9 places), and the TF-IDF range."""
    row = F.concat_ws(
        "|", "id1", "id2", "lev", F.format_string("%.9f", F.col("jaro_winkler"))
    )
    return [
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(_md5_60(row)), F.lit(0)).alias("h"),
        F.count("tfidf_cosine").alias("n_tfidf"),
        (F.min("tfidf_cosine") >= 0).alias("tfidf_lo_ok"),
        (F.max("tfidf_cosine") <= 1 + 1e-9).alias("tfidf_hi_ok"),
    ]


class IncrementalER(Workload):
    """Micro-batches in ``warc_ts`` order through ``ContinuousER.process_batch``."""

    name = "incremental_er"
    ENTITIES, BATCHES, RECRAWL = 150, 3, 0.2

    def setup(self, spark: SparkSession, work: str) -> dict:
        st = {}
        for tag, div, nb in (("main", 1, self.BATCHES), ("warm", 8, 1)):
            c = gen.planted_pages(self.n(self.ENTITIES) // div, self.seed, recrawl_frac=self.RECRAWL)
            p = c.pages.sort_values(["warc_ts", "url"], kind="stable").reset_index(drop=True)
            paths = []
            for b in range(nb):
                path = os.path.join(work, f"inc_{tag}_{b}.parquet")
                gen.write_parquet(p.iloc[b * len(p) // nb : (b + 1) * len(p) // nb], path)
                paths.append(path)
            st[tag] = {
                "corpus": c,
                "paths": paths,
                "batches": [read_parquet(spark, path) for path in paths],
            }
        st["work"] = work
        st["passes"] = 0
        return st

    def run_pass(self, ctx: Ctx, st: dict, tag: str = "main") -> PassResult:
        st["passes"] += 1
        state_dir = os.path.join(st["work"], f"cer_{st['passes']}")
        res = PassResult(wall_s=0.0, ops=len(st[tag]["batches"]))
        t0 = time.perf_counter()
        er = ContinuousER(ctx.spark, state_dir)
        lat = []
        for b, df in enumerate(st[tag]["batches"]):
            t = time.perf_counter()
            with ctx.span("continuous_er"):
                er.process_batch(df, b)
            lat.append(time.perf_counter() - t)
        with ctx.span("continuous_er"):
            res.out["assignment"] = er.current_assignment().toArrow()
        res.wall_s = time.perf_counter() - t0
        res.timings["batches_s"] = lat
        res.out["state_mb"] = _dir_mb(state_dir)
        return res

    def expect(self, spark: SparkSession, st: dict) -> dict:
        c = st["main"]["corpus"]
        union = st["main"]["batches"][0]
        for df in st["main"]["batches"][1:]:
            union = union.unionByName(df)
        # ContinuousER purges no blocks, so the batch run must not either
        batch = pipeline.resolve(union, pipeline.ERConfig(max_block_size=None))
        rows = batch.select("record_id", "url", "component_id").distinct().toArrow()
        ids = rows.column("record_id").to_pylist()
        recs = pipeline.extract(union).select("record_id", "title")
        return {
            "partition": oracle.partition(ids, rows.column("component_id").to_pylist()),
            "url_of": dict(zip(ids, rows.column("url").to_pylist())),
            "truth": dict(zip(c.truth["url"], c.truth["entity_id"])),
            "blocks": block_stats(spark, recs),
            "errors": [],
            "pages": len(c.pages),
            "input_mb": sum(os.path.getsize(p) for p in st["main"]["paths"]) / 2**20,
        }

    def check(self, res: PassResult, exp: dict) -> list[str]:
        tbl = res.out["assignment"]
        ids = tbl.column("record_id").to_pylist()
        comp = tbl.column("component_id").to_pylist()
        errs = []
        if oracle.partition(ids, comp) != exp["partition"]:
            errs.append("continuous_er: final assignment differs from the batch run over all batches")
        labels = {exp["url_of"].get(i, i): c for i, c in zip(ids, comp)}
        if set(labels) != set(exp["truth"]):
            errs.append("continuous_er: assignment does not cover every url")
            res.out["pair_f1"] = float("nan")
        else:
            res.out["pair_f1"] = f1_of(labels, exp["truth"])[3]
        return errs

    def metrics(self, res: PassResult, exp: dict) -> dict:
        lat = res.timings["batches_s"]
        late = lat[-max(1, len(lat) // 4) :]
        return {
            "resolve_pages_per_s": exp["pages"] / sum(lat),
            "pair_f1": res.out["pair_f1"],
            "batch_p50_s": float(np.median(lat)),
            "batch_late_p50_s": float(np.median(late)),
        }

    def layer_counts(self, ctx: Ctx, res: PassResult, exp: dict) -> dict[str, float]:
        return {"continuous_er.state_mb": res.out["state_mb"]}


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (PlantedER, DenseBlocks, IncrementalER)
}
