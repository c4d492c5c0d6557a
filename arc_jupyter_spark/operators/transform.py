"""Transform stages: the relational/dataflow core.

SQLTransform carries all relational algebra straight into Catalyst
(reference: SURVEY.md §2.B — the reference implements zero operators of
its own). The rest are DataFrame programs: diff via intersect/exceptAll,
JSON re-serialization, LSH similarity join, HTTP row transform via
mapInPandas.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from arc_jupyter_spark.context import ArcContext, PLACEHOLDER_VIEW
from arc_jupyter_spark.plans.pipeline import PipelineStage, register_stage


@register_stage
class SQLTransform(PipelineStage):
    """Arbitrary SQL over registered views with ``${param}`` injection.

    Joins, aggregations, windows, set ops, subqueries, CTEs, hints —
    all executed by Catalyst/Tungsten. At scale, broadcast hints
    (``/*+ BROADCAST(dim) */``) and AQE do the physical planning.
    """

    stage_type = "SQLTransform"

    sql: str = ""
    output_view: str = PLACEHOLDER_VIEW

    def execute(self, ctx: ArcContext) -> DataFrame:
        stmt = self.substitute(self.sql, ctx)
        df = self.repartition(ctx.spark.sql(stmt))
        return ctx.register(df, self.output_view, persist=self.persist)


@register_stage
class DiffTransform(PipelineStage):
    """Diff two views (reference: SURVEY.md §2.B DiffTransform).

    Emits up to three views: intersection, left-only, right-only —
    multiset semantics (``intersectAll``/``exceptAll``) so duplicate
    multiplicity is respected. Each is one shuffle on the full row; at
    scale, pre-project to the compared columns first.
    """

    stage_type = "DiffTransform"

    input_left_view: str = ""
    input_right_view: str = ""
    output_intersection_view: str | None = None
    output_left_view: str | None = None
    output_right_view: str | None = None

    def execute(self, ctx: ArcContext) -> DataFrame:
        left = ctx.table(self.input_left_view)
        right = ctx.table(self.input_right_view)
        result: DataFrame | None = None
        if self.output_intersection_view:
            result = ctx.register(
                left.intersectAll(right), self.output_intersection_view, persist=self.persist
            )
        if self.output_left_view:
            result = ctx.register(
                left.exceptAll(right), self.output_left_view, persist=self.persist
            )
        if self.output_right_view:
            result = ctx.register(
                right.exceptAll(left), self.output_right_view, persist=self.persist
            )
        return result


@register_stage
class JSONTransform(PipelineStage):
    """Re-serialize each row to a JSON string column ``value``
    (reference: SURVEY.md §2.B JSONTransform)."""

    stage_type = "JSONTransform"

    input_view: str = ""
    output_view: str = ""

    def execute(self, ctx: ArcContext) -> DataFrame:
        df = ctx.table(self.input_view)
        out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
        return ctx.register(self.repartition(out), self.output_view, persist=self.persist)


@register_stage
class SimilarityJoinTransform(PipelineStage):
    """Fuzzy join on string keys via MinHash LSH (reference ships this:
    CHANGELOG.md:237; SURVEY.md §2.B).

    Pipeline: concat key cols → regex tokenize → character n-grams →
    HashingTF sparse vectors → MinHashLSH approxSimilarityJoin. The LSH
    band join turns the O(n·m) pair space into hash-bucket joins —
    the scale path for 100 TB fuzzy matching.
    """

    stage_type = "SimilarityJoinTransform"

    left_view: str = ""
    right_view: str = ""
    left_fields: tuple[str, ...] = ()
    right_fields: tuple[str, ...] = ()
    output_view: str = ""
    threshold: float = 0.75
    shingle_length: int = 3
    num_hash_tables: int = 5
    case_sensitive: bool = False
    seed: int = 42

    def _featurize(self, df: DataFrame, fields: tuple[str, ...]) -> DataFrame:
        from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer

        key = F.concat_ws(" ", *[F.col(c).cast("string") for c in fields])
        if not self.case_sensitive:
            key = F.lower(key)
        df = df.withColumn("_sj_key", key)
        # pattern="." + gaps=False emits one token per character
        # (pattern="" would match zero-length and yield no tokens)
        tok = RegexTokenizer(
            inputCol="_sj_key", outputCol="_sj_chars", pattern=".", gaps=False,
            toLowercase=not self.case_sensitive,
        )
        ng = NGram(n=self.shingle_length, inputCol="_sj_chars", outputCol="_sj_shingles")
        tf = HashingTF(inputCol="_sj_shingles", outputCol="_sj_features", numFeatures=1 << 18)
        out = tf.transform(ng.transform(tok.transform(df)))
        # MinHashLSH requires at least one non-zero feature
        return out.where(F.size("_sj_shingles") > 0)

    def execute(self, ctx: ArcContext) -> DataFrame:
        from pyspark.ml.feature import MinHashLSH

        left = self._featurize(ctx.table(self.left_view), self.left_fields)
        right = self._featurize(ctx.table(self.right_view), self.right_fields)
        mh = MinHashLSH(
            inputCol="_sj_features", outputCol="_sj_hashes",
            numHashTables=self.num_hash_tables, seed=self.seed,
        )
        model = mh.fit(left)
        joined = model.approxSimilarityJoin(
            left, right, 1.0 - self.threshold, distCol="_sj_distance"
        )
        helper_cols = {"_sj_key", "_sj_chars", "_sj_shingles", "_sj_features", "_sj_hashes"}
        left_cols = [
            F.col(f"datasetA.{c}").alias(c)
            for c in left.columns if c not in helper_cols
        ]
        right_cols = [
            F.col(f"datasetB.{c}").alias(c if c not in left.columns else f"{c}_right")
            for c in right.columns if c not in helper_cols
        ]
        out = joined.select(
            *left_cols, *right_cols,
            (1.0 - F.col("_sj_distance")).alias("similarity"),
        )
        return ctx.register(self.repartition(out), self.output_view, persist=self.persist)


@register_stage
class HTTPTransform(PipelineStage):
    """POST row batches to an endpoint, append the response column.

    Arrow-batched via mapInPandas — one HTTP call per pandas batch, not
    per row. ``batch_size`` bounds request payloads. Network may be
    unavailable in the sandbox; unit tests inject ``post_fn``.
    """

    stage_type = "HTTPTransform"

    input_view: str = ""
    output_view: str = ""
    uri: str = ""
    input_field: str = "value"
    batch_size: int = 100
    post_fn: Any = None

    def execute(self, ctx: ArcContext) -> DataFrame:
        import pandas as pd

        df = ctx.table(self.input_view)
        uri = self.substitute(self.uri, ctx)
        field = self.input_field
        batch_size = self.batch_size
        post_fn = self.post_fn

        def default_post(payloads: list[str]) -> list[str]:
            import json
            import urllib.request

            req = urllib.request.Request(
                uri, data=json.dumps(payloads).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:  # noqa: S310
                return json.loads(resp.read())

        poster = post_fn or default_post
        # build a fresh StructType — StructType.add mutates in place and
        # df.schema can be a cached instance
        out_schema = T.StructType(
            list(df.schema.fields) + [T.StructField("response", T.StringType())]
        )

        def run(batches):
            for pdf in batches:
                responses: list[str] = []
                for start in range(0, len(pdf), batch_size):
                    chunk = pdf[field].iloc[start:start + batch_size].astype(str).tolist()
                    responses.extend(str(r) for r in poster(chunk))
                yield pdf.assign(response=pd.Series(responses, index=pdf.index))

        out = df.mapInPandas(run, schema=out_schema)
        return ctx.register(out, self.output_view, persist=self.persist)


@register_stage
class TensorFlowServingTransform(PipelineStage):
    """Score rows against a TF-Serving REST endpoint
    (reference: SURVEY.md §2.B TensorFlowServingTransform).

    Same Arrow-batched shape as HTTPTransform: one
    ``POST {uri}/v1/models/{model}:predict`` per pandas chunk with
    ``{"instances": [...]}``; the response's ``predictions`` align by
    position. Tests inject ``predict_fn``; real serving needs network.
    """

    stage_type = "TensorFlowServingTransform"

    input_view: str = ""
    output_view: str = ""
    uri: str = ""
    input_field: str = "value"
    batch_size: int = 100
    response_field: str = "prediction"
    predict_fn: Any = None

    def execute(self, ctx: ArcContext) -> DataFrame:
        import pandas as pd

        df = ctx.table(self.input_view)
        uri = self.substitute(self.uri, ctx)
        field = self.input_field
        batch_size = self.batch_size
        response_field = self.response_field
        predict_fn = self.predict_fn

        def default_predict(instances: list) -> list:
            import json
            import urllib.request

            req = urllib.request.Request(
                uri, data=json.dumps({"instances": instances}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:  # noqa: S310
                return json.loads(resp.read())["predictions"]

        predictor = predict_fn or default_predict
        out_schema = T.StructType(
            list(df.schema.fields) + [T.StructField(response_field, T.StringType())]
        )

        def run(batches):
            for pdf in batches:
                preds: list[str] = []
                for start in range(0, len(pdf), batch_size):
                    chunk = pdf[field].iloc[start:start + batch_size].tolist()
                    preds.extend(str(p) for p in predictor(chunk))
                yield pdf.assign(**{response_field: pd.Series(preds, index=pdf.index)})

        out = df.mapInPandas(run, schema=out_schema)
        return ctx.register(out, self.output_view, persist=self.persist)


@register_stage
class MLTransform(PipelineStage):
    """Score a saved SparkML PipelineModel over a view
    (reference: SURVEY.md §2.B MLTransform)."""

    stage_type = "MLTransform"

    input_view: str = ""
    output_view: str = ""
    model_uri: str = ""

    def execute(self, ctx: ArcContext) -> DataFrame:
        from pyspark.ml import PipelineModel

        model = PipelineModel.load(self.substitute(self.model_uri, ctx))
        out = model.transform(ctx.table(self.input_view))
        return ctx.register(self.repartition(out), self.output_view, persist=self.persist)
