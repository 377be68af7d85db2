"""The benchmark's workloads: inputs, closed-loop operations, output checks.

A workload is a list of parts. Each part stages its inputs (pure Python,
from the seed), then exposes an ordered list of operations. One *pass*
runs every operation of every part once, each waiting for the previous one
(a closed loop with one client). Each operation calls one layer's public
function inside a span named after that layer, so the traced run can
charge time and Spark work to it. Output checks run after an operation
returns, outside its timed region; a failed check counts the operation as
failed.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import inputs


@dataclass
class Op:
    name: str
    run: Callable  # (ctx) -> output handed to check
    check: Callable  # (ctx, output) -> None, raises CheckFailed


class CheckFailed(Exception):
    """An operation returned, but its output is wrong."""


def _expect(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _no_check(ctx, out) -> None:
    """Checked by the operation that consumes this one's result."""


# -- registry queries -----------------------------------------------------------

# A headline query (the five-table join whose schema-less parquet loads each
# launch a footer job) and an iterative one (bpe_merges: the driver loop of
# operators.tokenizer_train). Other registry queries are left out to fit
# the benchmark's time budget (README.md).
QUERIES = ["region_revenue", "bpe_merges"]


class RegistryQueries:
    """Registry queries over a generated star schema, each checked against
    its DuckDB oracle on the same files."""

    def __init__(self, smoke: bool) -> None:
        self.sf = 0.001 if smoke else 0.01
        self._oracle: dict[str, tuple] = {}
        self._duck = None

    def stage_inputs(self, work: str, seed: int) -> dict:
        self.data_dir = os.path.join(work, "tables")
        rows = inputs.write_star_schema(self.data_dir, self.sf, seed)
        self.files = [os.path.join(self.data_dir, f"{t}.parquet") for t in rows]
        return {"sf": self.sf, "rows": rows}

    def ops(self) -> list[Op]:
        from sentiment_analysis_bigdata_spark import workloads

        registry = workloads.all_queries()
        self.oracles = workloads.all_oracles()
        return [Op(q, self._runner(registry[q], q), self._check) for q in QUERIES]

    def _runner(self, build, name):
        def run(ctx):
            tr = ctx.tracer
            with tr.span("workloads.build", query=name):
                df = build(ctx.spark, self.data_dir)
            if ctx.trace:
                with tr.span("catalyst.plan", query=name):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec.sink", query=name):
                rows = df.collect()
            return name, df.columns, rows

        return run

    def _check(self, ctx, out) -> None:
        from tools.check_correctness import normalize

        name, columns, rows = out
        if name not in self._oracle:
            self._oracle[name] = self._run_oracle(name)
        dcols, drows = self._oracle[name]
        _expect(sorted(columns) == sorted(dcols), f"{name}: columns {columns} vs {dcols}")
        _expect(len(rows) == len(drows), f"{name}: {len(rows)} rows vs oracle {len(drows)}")
        got = normalize([tuple(r) for r in rows], columns)[1]
        want = normalize(drows, dcols)[1]
        if got != want:
            diff = next((a, b) for a, b in zip(got, want) if a != b)
            raise CheckFailed(f"{name}: differs from oracle, first diff {diff}")

    def _run_oracle(self, name):
        import duckdb

        if self._duck is None:
            self._duck = duckdb.connect()
            for path in self.files:
                table = os.path.basename(path).removesuffix(".parquet")
                self._duck.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
                )
        res = self._duck.execute(self.oracles[name])
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# -- curation pipeline -----------------------------------------------------------

CHUNK_SIZE, CHUNK_STRIDE = 32, 24


class Curation:
    """The head of the corpus curation chain of tools/corpus_scale.py on a
    generated corpus with planted duplicates: clean → transitive MinHash
    dedup → token-window chunking, each step reading the previous step's
    parquet output. Packing and mixing are left out to fit the benchmark's
    time budget (README.md)."""

    def __init__(self, smoke: bool) -> None:
        self.n_docs = 200 if smoke else 400

    def stage_inputs(self, work: str, seed: int) -> dict:
        self.work = os.path.join(work, "corpus")
        self.raw = os.path.join(self.work, "raw.parquet")
        texts = inputs.write_corpus(self.raw, self.n_docs, seed)
        # the planted duplicates are exactly the ids ≡ 8, 9 (mod 10)
        self.survivors = {i for i in range(self.n_docs) if i % 10 < 8}
        self.n_chunks = sum(
            -(-max(len(texts[i].split()), 1) // CHUNK_STRIDE) for i in self.survivors
        )
        return {"docs": self.n_docs}

    def _out(self, step: str) -> str:
        return os.path.join(self.work, step)

    def ops(self) -> list[Op]:
        return [
            Op("corpus.clean", self._clean, self._check_clean),
            Op("corpus.cluster_dedup", self._dedup, self._check_dedup),
            Op("chunking.chunk_tokens", self._chunk, self._check_chunk),
        ]

    def _clean(self, ctx):
        from sentiment_analysis_bigdata_spark.apps import corpus

        out = _fresh_dir(self._out("clean"))
        with ctx.tracer.span("apps.corpus.clean"):
            return corpus.clean_corpus(ctx.spark, self.raw, out)

    def _check_clean(self, ctx, stats) -> None:
        _expect(stats["rows_in"] == stats["rows_out"] == self.n_docs,
                f"clean kept {stats['rows_out']} of {stats['rows_in']}, want all {self.n_docs}")

    def _dedup(self, ctx):
        from sentiment_analysis_bigdata_spark.apps import corpus

        out = _fresh_dir(self._out("dedup"))
        with ctx.tracer.span("apps.corpus.cluster_dedup"):
            return corpus.cluster_dedup_corpus(
                ctx.spark, self._out("clean"), out, method="minhash", threshold=0.8
            )

    def _check_dedup(self, ctx, stats) -> None:
        import pyarrow.parquet as pq

        kept = set(pq.read_table(self._out("dedup"), columns=["doc_id"])["doc_id"].to_pylist())
        _expect(stats["removed"] == self.n_docs - len(self.survivors),
                f"dedup removed {stats['removed']}, planted {self.n_docs - len(self.survivors)}")
        _expect(kept == self.survivors,
                f"dedup kept {len(kept - self.survivors)} planted duplicates and dropped "
                f"{len(self.survivors - kept)} originals")

    def _chunk(self, ctx):
        from pyspark.sql import functions as F

        from sentiment_analysis_bigdata_spark.operators.chunking import chunk_tokens

        with ctx.tracer.span("operators.chunking"):
            docs = ctx.spark.read.parquet(self._out("dedup")).select(
                "doc_id", F.split("text", " ").alias("toks")
            )
            return chunk_tokens(docs, "toks", size=CHUNK_SIZE, stride=CHUNK_STRIDE).count()

    def _check_chunk(self, ctx, n_chunks) -> None:
        _expect(n_chunks == self.n_chunks, f"{n_chunks} chunks, expected {self.n_chunks}")

    def close(self) -> None:
        pass


# -- sentiment140 workflow ------------------------------------------------------

PUBLISHED_ACCURACY = {"lr": 0.775, "nb": 0.758}
# LinearSVC is left out: its 52-job fit alone costs about 16 s of a run
# (cold and warm), which the benchmark's time budget cannot hold (README.md).
MODELS = ("lr", "nb")
# The reference's full evaluation (accuracy, weighted F1, ROC-AUC, confusion
# matrix; about 20 jobs) runs for LR. NB gets the confusion matrix, from
# which its accuracy is checked, to fit the same budget.
FULL_EVALUATION = ("lr",)
ACCURACY_BAND = 0.06


class Sentiment140:
    """The paper's pipeline with the reference hyperparameters: preprocess,
    then fit → evaluate for LR and NaiveBayes, save the LR model, then
    compare_models."""

    def __init__(self, smoke: bool) -> None:
        self.n_rows = 3_000 if smoke else 6_000

    def stage_inputs(self, work: str, seed: int) -> dict:
        self.work = work
        self.raw = os.path.join(work, "tweets", "raw.csv")
        self.models_dir = os.path.join(work, "out", "models")
        os.makedirs(self.models_dir, exist_ok=True)
        inputs.write_tweets_csv(self.raw, self.n_rows, seed)
        return {"raw_rows": self.n_rows}

    def ops(self) -> list[Op]:
        from sentiment_analysis_bigdata_spark.operators import ml as ML

        self.cfg = ML.PipelineConfig()  # the reference hyperparameters
        self.state: dict = {}
        self.test_rows: int | None = None
        ops = [Op("preprocess", self._preprocess, self._check_preprocess)]
        for m in MODELS:
            ops += [
                Op(f"fit.{m}", self._fit(m), _no_check),
                Op(f"evaluate.{m}", self._evaluate(m), self._check_eval(m)),
            ]
        ops.append(Op("save.lr", self._save("lr"), self._check_save))
        ops.append(Op("compare_models", self._compare, self._check_compare))
        return ops

    def _preprocess(self, ctx):
        from sentiment_analysis_bigdata_spark import schemas
        from sentiment_analysis_bigdata_spark.apps import workflow
        from sentiment_analysis_bigdata_spark.sources import read_csv

        self.clean_dir = _fresh_dir(os.path.join(self.work, "out", "clean"))
        with ctx.tracer.span("apps.workflow.preprocess"):
            stats = workflow.preprocess(ctx.spark, self.raw, self.clean_dir)
        df = read_csv(ctx.spark, self.clean_dir, schemas.TWEETS_CLEAN, header=True).dropna()
        self.state["split"] = df.randomSplit(list(self.cfg.split), seed=self.cfg.seed)
        return stats

    def _check_preprocess(self, ctx, stats) -> None:
        _expect(stats["rows_clean"] == self.n_rows,
                f"preprocess kept {stats['rows_clean']} of {self.n_rows} rows")

    def _fit(self, model):
        def run(ctx):
            from sentiment_analysis_bigdata_spark.operators import ml as ML

            train, _ = self.state["split"]
            with ctx.tracer.span("operators.ml.fit", model=model):
                self.state[model] = ML.build_pipeline(model, self.cfg).fit(train)

        return run

    def _evaluate(self, model):
        def run(ctx):
            from pyspark.ml.functions import vector_to_array
            from pyspark.sql import functions as F

            from sentiment_analysis_bigdata_spark.operators import evaluation as EV

            _, test = self.state["split"]
            with ctx.tracer.span("operators.evaluation", model=model):
                scored = self.state[model].transform(test).cache()
                try:
                    metrics = {"confusion": [
                        (r["label"], r["prediction"], r["n"])
                        for r in EV.confusion_matrix(scored).collect()
                    ]}
                    if model in FULL_EVALUATION:
                        with_score = scored.withColumn(
                            "score", vector_to_array(F.col("rawPrediction"))[1]
                        )
                        metrics.update(
                            accuracy=EV.accuracy(scored),
                            f1=EV.weighted_f1(scored),
                            roc_auc=EV.roc_auc(with_score),
                        )
                finally:
                    scored.unpersist()
            # compare_models merges the per-model metrics files, as written
            # by the reference's training scripts
            with open(os.path.join(self.models_dir, f"{model}_metrics.json"), "w") as fh:
                json.dump(metrics, fh)
            return metrics

        return run

    def _check_eval(self, model):
        def check(ctx, metrics) -> None:
            n = sum(c for _, _, c in metrics["confusion"])
            acc = sum(c for label, pred, c in metrics["confusion"] if label == pred) / n
            _expect(abs(acc - PUBLISHED_ACCURACY[model]) <= ACCURACY_BAND,
                    f"{model}: accuracy {acc:.4f} outside ±{ACCURACY_BAND} of "
                    f"{PUBLISHED_ACCURACY[model]}")
            if "accuracy" in metrics:
                _expect(abs(metrics["accuracy"] - acc) < 1e-9,
                        f"{model}: accuracy {metrics['accuracy']} vs confusion matrix {acc}")
            # the split is seeded: the first pass pins the count for the run
            if self.test_rows is None:
                _expect(0.18 * self.n_rows <= n <= 0.22 * self.n_rows,
                        f"{model}: {n} test rows for a 0.2 split of {self.n_rows}")
                self.test_rows = n
            _expect(n == self.test_rows, f"{model}: {n} test rows, pinned {self.test_rows}")

        return check

    def _save(self, model):
        def run(ctx):
            from sentiment_analysis_bigdata_spark.operators import ml as ML

            path = os.path.join(self.work, "out", "saved", model)
            with ctx.tracer.span("operators.ml.save_model", model=model):
                ML.save_model(self.state[model], path)
            return path, len(self.state[model].stages)

        return run

    def _check_save(self, ctx, out) -> None:
        path, n_stages = out
        saved = sorted(os.listdir(os.path.join(path, "stages")))
        _expect(os.path.isdir(os.path.join(path, "metadata")) and len(saved) == n_stages,
                f"{path}: {len(saved)} saved stages of {n_stages}")

    def _compare(self, ctx):
        from sentiment_analysis_bigdata_spark.apps import workflow

        with ctx.tracer.span("apps.workflow.compare_models"):
            return workflow.compare_models(
                self.models_dir, os.path.join(self.work, "out", "compare.json")
            )

    def _check_compare(self, ctx, merged) -> None:
        _expect(sorted(merged) == sorted(MODELS), f"compare_models saw {sorted(merged)}")

    def close(self) -> None:
        pass


# -- workloads --------------------------------------------------------------------


class Workload:
    """Parts run in order within each pass; inputs are staged per part."""

    def __init__(self, name: str, parts: list) -> None:
        self.name = name
        self.parts = parts

    def stage_inputs(self, work: str, seed: int) -> dict:
        return {type(p).__name__: p.stage_inputs(work, seed) for p in self.parts}

    def ops(self) -> list[Op]:
        return [op for p in self.parts for op in p.ops()]

    def close(self) -> None:
        for p in self.parts:
            p.close()


WORKLOADS = {
    "query_mix": lambda smoke: Workload(
        "query_mix", [RegistryQueries(smoke), Curation(smoke)]
    ),
    "sentiment140_workflow": lambda smoke: Workload(
        "sentiment140_workflow", [Sentiment140(smoke)]
    ),
}
