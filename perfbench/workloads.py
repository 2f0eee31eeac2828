"""The benchmark's three workloads.

Each workload generates its inputs from the seed (cached on disk, never
timed), prepares and warms untimed, then runs closed-loop operations from
one client thread: a full pass for ``caption_etl`` and ``near_dup_dedup``, a
query for ``caption_analytics``. ``op`` is what the runner times;
``check`` compares the last outputs with ground truth that does not come
from the program; ``layer_metrics`` turns a traced run's spans into the
per-layer numbers.

The program is called exactly as a user calls it, with its own defaults.
Traced operations additionally materialize each public call's output inside
its span (``localCheckpoint``, or the collect that ends the call) so that
Spark's lazily deferred work lands in the layer that defined it.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import wicsmmiretl_spark.plans.pipeline as pipeline_mod
from wicsmmiretl_spark.functions.text import add_ratio_columns, caption_stats, vocab
from wicsmmiretl_spark.operators.aggregates import column_stats, grouped_stats_matrix
from wicsmmiretl_spark.operators.dedup import (
    dup_clusters,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    semantic_dedup,
)
from wicsmmiretl_spark.operators.filters import apply_filters, clamp_max, filters_from_config
from wicsmmiretl_spark.operators.sampling import deterministic_sample
from wicsmmiretl_spark.plans import CaptionPipeline, PipelineConfig

from perfbench import gen
from perfbench.checks import Checks, expected_sample, jaccard
from perfbench.trace import Tracer, median, self_time_by_name

# v1 filter thresholds (strict bounds), as in the reference's GPU-server
# config: num_tok in (10, 150), min_sent_len > 5, num_sent in (1, 5).
V1_FILTERS = [
    {"column": "num_tok", "min": 10, "max": 150},
    {"column": "min_sent_len", "min": 5},
    {"column": "num_sent", "min": 1, "max": 5},
]
TRANSFORMS = [
    {"type": "resize", "max_width": 32, "max_height": 32},
    {"type": "compress", "bits": 4},
    {"type": "webp"},
]
SAMPLE_SEED = 1312


def _v1_bounds() -> list[tuple[str, float, float]]:
    """(column, exclusive lower, exclusive upper) for each v1 filter."""
    return [(f["column"], f.get("min", -1), f.get("max", float("inf"))) for f in V1_FILTERS]


def _passes_v1(c: gen.Captions) -> np.ndarray:
    """The v1 filter over the generator's recorded counts."""
    mask = np.ones(len(c.ids), dtype=bool)
    for col, lo, hi in _v1_bounds():
        mask &= (getattr(c, col) > lo) & (getattr(c, col) < hi)
    return mask


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _materialize(out):
    return out.localCheckpoint(eager=True) if isinstance(out, DataFrame) else out


@contextmanager
def _patched(module, names: dict[str, str], tracer: Tracer, materialize: bool = True, outputs: dict | None = None):
    """Wrap ``module.<attr>`` calls in spans named ``names[attr]``, restoring
    the originals on exit. ``outputs`` receives each span's last output."""
    saved = {attr: getattr(module, attr) for attr in names}

    def wrap(fn, span_name):
        def call(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
                if materialize:
                    out = _materialize(out)
            if outputs is not None:
                outputs[span_name] = out
            return out

        return call

    try:
        for attr, span_name in names.items():
            setattr(module, attr, wrap(saved[attr], span_name))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


class Workload:
    name = ""
    min_ops = 3
    rows_per_op = 0

    def __init__(self, spark, work_dir: str, cache_root: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.work = work_dir
        self.cache_root = cache_root
        self.seed = seed
        self.scale = scale
        self.sizes: dict[str, int] = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer: Tracer | None = None) -> None:
        raise NotImplementedError

    def settle(self, i: int) -> None:
        """Untimed clean-up after op ``i``."""

    def check(self, checks: Checks) -> None:
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer, n_traced: int) -> dict[str, float]:
        raise NotImplementedError

    def _cache(self, size: int) -> str:
        path = gen.cache_dir(self.cache_root, self.name, self.seed, size)
        os.makedirs(path, exist_ok=True)
        return path


class CaptionEtl(Workload):
    """One ``CaptionPipeline`` extract→transform→load per operation."""

    name = "caption_etl"

    def prepare(self) -> None:
        n = max(200, int(12_000 * self.scale))
        caps = gen.gen_captions(self.seed, n, "wicsmmir")
        self.list_path = os.path.join(self._cache(n), "captions.txt")
        if not os.path.exists(self.list_path):
            with open(self.list_path + ".tmp", "wb") as fh:
                fh.write(gen.caption_list_bytes(caps))
            os.replace(self.list_path + ".tmp", self.list_path)
        self.max_samples = n // 4
        self.rows_per_op = n
        self.sizes = {"captions": n, "input_bytes": os.path.getsize(self.list_path), "max_samples": self.max_samples}

        sampled = expected_sample(caps.ids[_passes_v1(caps)], self.max_samples, SAMPLE_SEED)
        fails = {i for i, f in zip(caps.ids.tolist(), caps.files) if gen.fetch_fails(gen.canonical_name(f))}
        self.expect_ids = sampled - fails
        self.expect_failures = len(sampled & fails)

        # One untimed pass first: Python workers, codegen and JIT warm up on
        # the real input, so every timed pass sees the same warm state.
        self._pipeline(os.path.join(self.work, "warm_out")).run()
        shutil.rmtree(os.path.join(self.work, "warm_out"), ignore_errors=True)

    def _pipeline(self, out_dir: str) -> CaptionPipeline:
        cfg = PipelineConfig.from_dict(
            {
                "input": {"caption_list": self.list_path},
                "output": {"dir": out_dir},
                "seed": SAMPLE_SEED,
                "max_samples": self.max_samples,
                "filters": V1_FILTERS,
                "transformations": TRANSFORMS,
            }
        )
        return CaptionPipeline(self.spark, cfg, fetcher=gen.make_fetcher())

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"etl_{i}")

    def op(self, i: int, tracer: Tracer | None = None) -> None:
        pipe = self._pipeline(self._out(i))
        if tracer is None:
            self.result = pipe.run()
        else:
            self.result = self._traced(pipe, tracer)
        self.last = i
        self.stage_metrics = pipe.stage_metrics

    def _traced(self, pipe: CaptionPipeline, tracer: Tracer) -> dict[str, str]:
        names = {
            "read_caption_list": "sources.read_caption_list",
            "caption_stats": "functions.caption_stats",
            "apply_filters": "operators.apply_filters",
            "deterministic_sample": "operators.deterministic_sample",
            "fetch_images": "multimodal.fetch_images",
            "apply_image_transformations": "multimodal.apply_image_transformations",
        }
        self.outputs: dict[str, DataFrame] = {}
        with _patched(pipeline_mod, names, tracer, outputs=self.outputs), _patched(
            pipeline_mod, {"write_csv_projection": "sources.write"}, tracer, materialize=False
        ), _patched(CaptionPipeline, {"_write_ckpt": "sources.write"}, tracer, materialize=False):
            with tracer.span("plans.extract"):
                pipe.extract()
            with tracer.span("plans.transform"):
                pipe.transform()
            with tracer.span("plans.load"):
                return pipe.load()

    def settle(self, i: int) -> None:
        shutil.rmtree(self._out(i - 1), ignore_errors=True)

    def check(self, c: Checks) -> None:
        meta = pq.read_table(self.result["metadata"], columns=["wikicaps_id", "wikimedia_file", "format"])
        ids = set(meta.column("wikicaps_id").to_pylist())
        c.items(len(ids & self.expect_ids), len(self.expect_ids))
        c.check(ids == self.expect_ids, f"etl: {len(ids ^ self.expect_ids)} output ids differ from ground truth")
        c.check(
            self.stage_metrics["extract"]["fetch_failures"] == self.expect_failures,
            f"etl: fetch failures {self.stage_metrics['extract']['fetch_failures']} != {self.expect_failures}",
        )
        c.check(set(meta.column("format").to_pylist()) <= {"webp"}, "etl: output format is not webp")
        con = duckdb.connect()
        try:
            csv = con.execute(
                "SELECT * FROM read_csv(?, header=true, all_varchar=true, delim=',', quote='\"', escape='\\')",
                [os.path.join(self.result["dataset"], "*.csv")],
            ).fetch_arrow_table()
        finally:
            con.close()
        c.check(csv.column_names == ["wikimedia_file", "caption"], f"etl: csv columns {csv.column_names}")
        c.check(
            sorted(csv.column(0).to_pylist()) == sorted(meta.column("wikimedia_file").to_pylist()),
            "etl: csv rows do not match the parquet rows",
        )

    def layer_metrics(self, tracer: Tracer, n_traced: int) -> dict[str, float]:
        st = self_time_by_name(tracer.spans)
        per = {k: v / n_traced for k, v in st.items()}
        caption_s = per.get("functions.caption_stats", 0.0)
        transform_s = per.get("multimodal.apply_image_transformations", 0.0)
        return {
            "sources.read_caption_list_s": per.get("sources.read_caption_list", 0.0),
            "sources.write_s": per.get("sources.write", 0.0),
            "sources.bytes_written_per_input_byte": _dir_bytes(self._out(self.last)) / self.sizes["input_bytes"],
            "functions.caption_stats_s": caption_s,
            "functions.caption_stats_rows_per_s": self.rows_per_op / caption_s if caption_s else 0.0,
            "operators.apply_filters.selectivity": self.outputs["operators.apply_filters"].count() / self.rows_per_op,
            "operators.deterministic_sample_s": per.get("operators.deterministic_sample", 0.0),
            "multimodal.fetch_images_s": per.get("multimodal.fetch_images", 0.0),
            "multimodal.fetch_images.failures": self.stage_metrics["extract"]["fetch_failures"],
            "multimodal.apply_image_transformations_s": transform_s,
            "multimodal.images_per_s": self.stage_metrics["transform"]["rows_transformed"] / transform_s if transform_s else 0.0,
            "plans.extract_s": per.get("plans.extract", 0.0),
            "plans.transform_s": per.get("plans.transform", 0.0),
            "plans.load_s": per.get("plans.load", 0.0),
        }


STAT_COLS = ["num_tok", "num_sent", "min_sent_len", "max_sent_len", "num_ne", "fk_re_score"]
CLAMP_COLS = ["num_tok", "ratio_ne_tok"]
# Query type -> the span (layer and public function) that times it.
OP_SPANS = {
    "grouped_stats_matrix": "operators.grouped_stats_matrix",
    "vocab": "functions.vocab",
    "apply_filters": "operators.apply_filters",
    "deterministic_sample": "operators.deterministic_sample",
    "clamp_max": "operators.clamp_max",
}
# Queries of each type in every block of ten: the comparison-matrix notebook
# runs stats queries far more often than it rebuilds a vocabulary.
OP_WEIGHTS = {"grouped_stats_matrix": 3, "clamp_max": 2, "apply_filters": 2, "deterministic_sample": 2, "vocab": 1}
TRAIN_N, TEST_N = 400, 100


class CaptionAnalytics(Workload):
    """Notebook queries over an enriched metadata table of three datasets;
    one query per operation, in a seeded order with the fixed weights of
    ``OP_WEIGHTS`` (each block of ten is a seeded permutation of them)."""

    name = "caption_analytics"
    min_ops = 40

    def prepare(self) -> None:
        n = max(100, int(4_000 * self.scale))
        cache = self._cache(n)
        raw = os.path.join(cache, "raw.parquet")
        if not os.path.exists(raw):
            tables = []
            for k, shape in enumerate(["coco", "f30k", "wicsmmir"]):
                c = gen.gen_captions(self.seed, n, shape, id_base=k * 10_000_000)
                split = np.where(np.random.default_rng([self.seed, k]).random(n) < 0.2, "test", "train")
                tables.append(
                    pa.table(
                        {
                            "wikicaps_id": c.ids,
                            "wikimedia_file": c.files.tolist(),
                            "caption": c.captions.tolist(),
                            "dataset": [shape] * n,
                            "split": split.tolist(),
                        }
                    )
                )
            pq.write_table(pa.concat_tables(tables), raw + ".tmp")
            os.replace(raw + ".tmp", raw)
        self.meta_path = os.path.join(self.work, "metadata.parquet")
        enriched = add_ratio_columns(caption_stats(self.spark.read.parquet(raw), "caption"), ["num_ne"], "num_tok")
        enriched.write.mode("overwrite").parquet(self.meta_path)
        self.df = self.spark.read.parquet(self.meta_path)
        self.rows_per_op = 3 * n
        self.sizes = {"rows": 3 * n, "input_bytes": _dir_bytes(self.meta_path)}

        rng = np.random.default_rng([self.seed, 99])
        block = [kind for kind, w in OP_WEIGHTS.items() for _ in range(w)]
        self.plan = [str(kind) for _ in range(1000) for kind in rng.permutation(block)]
        self.params = rng.integers(20, 80, size=len(self.plan))
        self.first: dict[str, tuple] = {}
        for j, kind in enumerate(OP_WEIGHTS):  # untimed warm-up, one of each
            self._run(kind, j)

    def _run(self, kind: str, i: int):
        df, p = self.df, int(self.params[i])
        if kind == "grouped_stats_matrix":
            return grouped_stats_matrix(df, ["dataset"], STAT_COLS).collect()
        if kind == "vocab":
            return vocab(df, "caption").limit(100).collect()
        if kind == "apply_filters":
            return apply_filters(df, filters_from_config(V1_FILTERS)).count()
        if kind == "deterministic_sample":
            parts = [
                deterministic_sample(df.filter(F.col("split") == s), n, ["wikicaps_id"], p)
                for s, n in (("train", TRAIN_N), ("test", TEST_N))
            ]
            return parts[0].unionByName(parts[1]).select("wikicaps_id", "split").collect()
        return column_stats(clamp_max(df, "num_tok", float(p)), CLAMP_COLS).collect()

    def op(self, i: int, tracer: Tracer | None = None) -> None:
        kind = self.plan[i]
        if tracer is None:
            out = self._run(kind, i)
        else:
            with tracer.span(OP_SPANS[kind]):
                out = self._run(kind, i)
        self.first.setdefault(kind, (i, out))

    def check(self, c: Checks) -> None:
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{self.meta_path}/*.parquet')")
            for kind, (i, out) in sorted(self.first.items()):
                getattr(self, f"_check_{kind}")(c, con, out, int(self.params[i]))
        finally:
            con.close()

    @staticmethod
    def _close(a, b) -> bool:
        return a is not None and b is not None and abs(a - b) <= 1e-9 * max(1.0, abs(b))

    def _check_grouped_stats_matrix(self, c, con, out, p) -> None:
        sel = ", ".join(f"min({x}), max({x}), avg({x}), median({x})" for x in STAT_COLS)
        want = {r[0]: r[1:] for r in con.execute(f"SELECT dataset, {sel} FROM t GROUP BY dataset").fetchall()}
        got = {r["dataset"]: [r[f"{s}_{x}"] for x in STAT_COLS for s in ("min", "max", "mean", "median")] for r in out}
        ok = sum(
            ds in got and all(self._close(float(g), float(w)) for g, w in zip(got[ds], row))
            for ds, row in want.items()
        )
        c.items(ok, len(want))
        c.check(ok == len(want) == len(got), "analytics: grouped_stats_matrix differs from DuckDB")

    def _check_vocab(self, c, con, out, p) -> None:
        want = con.execute(
            "SELECT token, count(*) AS n FROM (SELECT unnest(string_split_regex(caption, '\\s+')) AS token FROM t) "
            "WHERE token <> '' GROUP BY token ORDER BY n DESC, token ASC LIMIT 100"
        ).fetchall()
        got = [(r["token"], r["count"]) for r in out]
        c.items(sum(a == b for a, b in zip(got, want)), len(want))
        c.check(got == want, "analytics: vocab top-100 differs from DuckDB")

    def _check_apply_filters(self, c, con, out, p) -> None:
        conds = [f"{col} > {lo}" for col, lo, _ in _v1_bounds()]
        conds += [f"{col} < {hi}" for col, _, hi in _v1_bounds() if hi != float("inf")]
        (want,) = con.execute(f"SELECT count(*) FROM t WHERE {' AND '.join(conds)}").fetchone()
        c.items(int(out == want), 1)
        c.check(out == want, f"analytics: filtered count {out} != {want}")

    def _check_deterministic_sample(self, c, con, out, p) -> None:
        want: set[tuple] = set()
        for split, n in (("train", TRAIN_N), ("test", TEST_N)):
            ids = np.array([r[0] for r in con.execute("SELECT wikicaps_id FROM t WHERE split = ?", [split]).fetchall()])
            want |= {(i, split) for i in expected_sample(ids, n, p)}
        got = {(r["wikicaps_id"], r["split"]) for r in out}
        c.items(len(got & want), len(want))
        c.check(got == want, "analytics: deterministic_sample union differs from the xxhash64 order")

    def _check_clamp_max(self, c, con, out, p) -> None:
        exprs = {"num_tok": f"least(num_tok, {float(p)})", "ratio_ne_tok": "ratio_ne_tok"}
        sel = ", ".join(f"min({e}), max({e}), avg({e}), median({e})" for e in exprs.values())
        want = con.execute(f"SELECT {sel} FROM t").fetchone()
        got = [out[0][f"{s}_{x}"] for x in CLAMP_COLS for s in ("min", "max", "mean", "median")]
        ok = all(self._close(float(g), float(w)) for g, w in zip(got, want))
        c.items(int(ok), 1)
        c.check(ok, "analytics: clamp_max + column_stats differs from DuckDB")

    def layer_metrics(self, tracer: Tracer, n_traced: int) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for s in tracer.spans:
            by.setdefault(s.name, []).append(s.duration * 1000)
        return {f"{name}_ms": median(by[name]) if name in by else 0.0 for name in OP_SPANS.values()}


TAU = 0.95


class NearDupDedup(Workload):
    """Text dedup chain then semantic dedup, one full pass per operation."""

    name = "near_dup_dedup"

    def prepare(self) -> None:
        n_docs, n_vecs = max(400, int(3_000 * self.scale)), max(200, int(800 * self.scale))
        self.corpus = gen.gen_dedup(self.seed, n_docs, n_vecs)
        cache = self._cache(n_docs)
        self.docs_path = os.path.join(cache, "docs.parquet")
        self.vecs_path = os.path.join(cache, "vecs.parquet")
        if not os.path.exists(self.vecs_path):
            self._write(self.corpus, self.docs_path, self.vecs_path)
        self.rows_per_op = n_docs + n_vecs
        self.sizes = {
            "docs": n_docs,
            "vectors": n_vecs,
            "input_bytes": os.path.getsize(self.docs_path) + os.path.getsize(self.vecs_path),
        }
        self._pass(self.docs_path, self.vecs_path)  # untimed warm pass

    @staticmethod
    def _write(corpus: gen.DedupCorpus, docs_path: str, vecs_path: str) -> None:
        pq.write_table(pa.table({"doc_id": corpus.ids, "text": corpus.texts.tolist()}), docs_path)
        emb = pa.array(list(corpus.vectors), type=pa.list_(pa.float32()))
        pq.write_table(pa.table({"vec_id": corpus.vec_ids, "embedding": emb}), vecs_path + ".tmp")
        os.replace(vecs_path + ".tmp", vecs_path)

    def _pass(self, docs_path: str, vecs_path: str, tracer: Tracer | None = None):
        """Each step's output is materialized once and reused, traced or not,
        so a traced pass differs from an untraced one only by its spans."""

        def step(name: str, fn, *args):
            if tracer is None:
                return _materialize(fn(*args))
            with tracer.span(name):
                return _materialize(fn(*args))

        docs = self.spark.read.parquet(docs_path)
        ded = step("operators.exact_dedup", exact_dedup, docs, "doc_id", "text")
        sigs = step("operators.minhash_signatures", minhash_signatures, ded, "doc_id", "text")
        self.candidates = step("operators.lsh_candidate_pairs", lsh_candidate_pairs, sigs, "doc_id")
        pairs = step("operators.jaccard_pairs", jaccard_pairs, ded, self.candidates, "doc_id", "text")
        clusters = step("operators.dup_clusters", lambda p: dup_clusters(p).collect(), pairs)
        survivors = [r[0] for r in ded.select("doc_id").collect()]
        pair_rows = pairs.collect()
        emb = self.spark.read.parquet(vecs_path)
        keep = step("operators.semantic_dedup", lambda e: semantic_dedup(e, tau=TAU, strategy="auto").collect(), emb)
        return survivors, pair_rows, clusters, keep

    def op(self, i: int, tracer: Tracer | None = None) -> None:
        self.result = self._pass(self.docs_path, self.vecs_path, tracer)

    def check(self, c: Checks) -> None:
        survivors, pair_rows, clusters, keep = self.result
        corpus = self.corpus
        alive = set(survivors)
        removed = set(corpus.ids.tolist()) - alive
        want_removed = {max(a, b) for a, b in corpus.exact_pairs.tolist()}
        c.check(removed == want_removed, f"dedup: exact_dedup removed {len(removed ^ want_removed)} wrong ids")
        exact_found = sum(max(a, b) in removed and min(a, b) in alive for a, b in corpus.exact_pairs.tolist())

        cluster = {r["id"]: r["cluster_id"] for r in clusters}
        near_found = sum(
            a in cluster and cluster.get(a) == cluster.get(b) for a, b in corpus.near_pairs.tolist()
        )
        kept = {r[0]: r["keep"] for r in keep}
        vec_found = sum(kept.get(max(a, b)) is False for a, b in corpus.vec_pairs.tolist())
        c.items(
            exact_found + near_found + vec_found,
            len(corpus.exact_pairs) + len(corpus.near_pairs) + len(corpus.vec_pairs),
        )
        c.check(len(kept) == len(corpus.vec_ids), "dedup: semantic_dedup lost rows")

        text = dict(zip(corpus.ids.tolist(), corpus.texts.tolist()))
        rng = np.random.default_rng([self.seed, 5])
        sample = [pair_rows[j] for j in rng.choice(len(pair_rows), size=min(64, len(pair_rows)), replace=False)]
        bad = [
            r for r in sample
            if abs(jaccard(text[r["id_a"]], text[r["id_b"]]) - r["jaccard"]) > 1e-6
            or (r["jaccard"] < 0.5 and not r["is_star"])
        ]
        c.check(not bad and len(sample) > 0, f"dedup: {len(bad)} of {len(sample)} rechecked Jaccard pairs disagree")

    def layer_metrics(self, tracer: Tracer, n_traced: int) -> dict[str, float]:
        st = self_time_by_name(tracer.spans)
        names = ["exact_dedup", "minhash_signatures", "lsh_candidate_pairs", "jaccard_pairs", "dup_clusters", "semantic_dedup"]
        out = {f"operators.{n}_s": st.get(f"operators.{n}", 0.0) / n_traced for n in names}
        n_pairs, n_cand = len(self.result[1]), self.candidates.count()
        out["operators.lsh_candidate_pairs.pairs"] = n_cand
        out["operators.jaccard_pairs.pairs"] = n_pairs
        out["operators.lsh.useful_ratio"] = n_pairs / n_cand if n_cand else 0.0
        return out


WORKLOADS = {w.name: w for w in (CaptionEtl, CaptionAnalytics, NearDupDedup)}
