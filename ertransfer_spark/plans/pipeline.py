"""End-to-end ER pipeline plan — the four reference stages as one resumable
Spark job graph (SURVEY §3: normalize → filtering → matching → clustering).

Every stage commits a snapshot through :class:`SnapshotCatalog` and appends
lineage rows (stage, counts, wall_ms, run_id). Each stage's plan runs once,
in its commit; the lineage numbers come from what was committed.
``candidate_count`` is the number of rows the stage committed, read from
the snapshot's parquet footers: records for ``records_a``/``records_b``
(not input turns), cluster rows (one per node) for ``clusters`` (not
matched pairs). ``candidates`` instead logs one row per token-frequency
block, and ``labeled`` adds ``matches`` = sum(label) over its snapshot.
``resume=True`` skips any
stage whose snapshot is already committed — kill the driver at any stage
boundary and rerun: only the remaining stages execute (the north-rule
checkpoint/resume contract; reference precedent is only model-checkpoint
reuse, methods/emtransformer/entrypoint.py:83-87,179-202).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ertransfer_spark.operators.blocking import block_histogram, top_k_token_join
from ertransfer_spark.operators.canonicalize import canonicalize
from ertransfer_spark.operators.clustering import (
    best_threshold,
    clusters_from_pairs,
    exact_clusters,
    pairwise_metrics,
    unique_mapping_clusters,
)
from ertransfer_spark.operators.labeling import (
    attach_labels,
    referential_filter,
    stratified_split,
)
from ertransfer_spark.operators.matcher import (
    FEATURES,
    attach_pair_text,
    evaluate_predictions,
    featurize,
    score,
    train_matcher,
)
from ertransfer_spark.sources.catalog import SnapshotCatalog


@dataclass
class PipelineConfig:
    k: int = 5
    metric: str = "jaccard"
    tokens_col: str = "shingle_set"  # blocking token column from canonicalize
    qgram: int | None = None         # block on agValue q-grams instead of
                                     # tokens_col (reference splitter QGram=N)
    qgram_multiset: bool = True      # settings.py 'multiset' switch: False →
                                     # distinct-gram sets (d5-d7/d10 recipes)
    reverse: bool = False            # K budget on the larger B side (J3)
    direction: str | None = None     # fwd|rev|union; supersedes reverse —
                                     # union = K per node on BOTH sides
                                     # (pyJedAI graph pruning; d10 recipe)
    salt: int = 4                    # posting-join salt (hot-token spread)
    salt_hot_product: int | None = 65536  # salt only output-explosive tokens
    skinny_postings: bool = True     # (token, id) posting rows; sizes post-agg
    topk_mode: str = "agg"           # partial-aggregable top-K (vs window)
    hash_tokens: bool = False        # 8-byte posting keys (P[collision]≈n²/2⁶⁵)
    blocker: str = "token"           # token (J1) | vector (J2 feature-hash LSH)
    max_token_df: int | None = None
    keep_rare_df: int | None = None  # rare-token pass-through keep-rule:
                                     # pairs sharing a token with combined
                                     # df ≤ N bypass the top-K rank filter
    posting_budget: int | None = None
    min_sim: float = 0.0
    algorithm: str = "logreg"
    local_train: bool = True         # logreg only: capped driver-IRLS fit
                                     # (coefficients become plan literals)
                                     # instead of Spark ML LBFGS, whose
                                     # maxIter tree-aggregate jobs are a
                                     # 10-200 s fixed floor that scales
                                     # with nothing (BENCH.md r2; boundary
                                     # parity in tests/test_scaling_path.py)
    train_sample_cap: int = 100_000  # local-train deterministic hash-sample
                                     # cap — bounds driver memory at any SF
    train_params: dict | None = None  # estimator hyperparameter overrides,
                                     # e.g. {"numTrees": 100, "maxDepth": 16}
                                     # (RF capacity is the measured lever on
                                     # hard-textual corpora: d3 0.70→0.79)
    clustering: str = "umc"          # umc | ec
    threshold: float | None = None   # None → tuned via single-pass sweep
    split_weights: tuple = (0.6, 0.2, 0.2)
    seed: int = 42
    tfidf: bool = False              # + corpus-IDF token cosine feature
    tfidf_max_df: int | None = None  # stop-token df cap for the tfidf join
    attrs: tuple = ()                # per-attribute features (tabular path;
                                     # requires run(raw_a=, raw_b=))
    attr_extra: tuple = ()           # extra (kind, attr) feature pairs
    extra: dict = field(default_factory=dict)


class ERPipeline:
    """Stages: records_a, records_b → candidates → predictions → matched_pairs
    → clusters (+ metrics & lineage tables)."""

    def __init__(self, spark: SparkSession, workdir: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.catalog = SnapshotCatalog(spark, workdir)
        self.cfg = config or PipelineConfig()
        self.run_id = uuid.uuid4().hex[:12]

    def _stage(self, name: str, build, resume: bool, lineage=None):
        """Commit ``build()`` as table ``name`` (skipped under ``resume``
        when already committed) and return the committed snapshot.

        The stage's plan runs exactly once, in the commit. Lineage is
        taken from what was committed: ``candidate_count`` is the
        snapshot's row count from its parquet footers (no Spark job).
        ``lineage(snapshot)``, when given, returns the stage's own lineage
        rows instead."""
        if resume and self.catalog.exists(name):
            return self.catalog.read(name)
        t0 = time.time()
        self.catalog.commit(name, build(), meta={"run_id": self.run_id})
        snap = self.catalog.read(name)
        if lineage is None:
            extra_lineage = [{"candidate_count": self.catalog.num_rows(name)}]
        else:
            extra_lineage = lineage(snap)
        wall_ms = int((time.time() - t0) * 1000)
        rows = [
            {
                "stage": name,
                "run_id": self.run_id,
                "wall_ms": wall_ms,
                "block_key": r.get("block_key", ""),
                "candidate_count": int(r.get("candidate_count", 0)),
                "comparisons": int(r.get("comparisons", 0)),
                "matches": int(r.get("matches", 0)),
            }
            for r in extra_lineage
        ]
        self.catalog.append_lineage(rows)
        return snap

    def run(
        self,
        transcripts_a: DataFrame,
        transcripts_b: DataFrame,
        golden_matches: DataFrame | None = None,
        resume: bool = True,
        resume_records: bool | None = None,
        raw_a: DataFrame | None = None,
        raw_b: DataFrame | None = None,
    ) -> dict:
        """``resume_records`` overrides ``resume`` for the records_a/b
        stages only — the tabular-injection seam (cli.py) commits canonical
        records before calling run() and those must be honored even under
        ``--no-resume`` (which recomputes every downstream stage).

        ``raw_a``/``raw_b``: the pre-canonicalization tables (``id`` +
        attribute columns) for ``cfg.attrs`` per-attribute matcher features
        — only the tabular path has these; transcript blobs use the
        agValue features (+ optional ``cfg.tfidf``)."""
        cfg = self.cfg
        if cfg.attrs and (raw_a is None or raw_b is None):
            raise ValueError("cfg.attrs requires run(raw_a=, raw_b=)")
        rec_resume = resume if resume_records is None else resume_records

        ra = self._stage("records_a", lambda: canonicalize(transcripts_a), rec_resume)
        rb = self._stage("records_b", lambda: canonicalize(transcripts_b), rec_resume)

        def _block():
            if cfg.blocker == "vector":
                from ertransfer_spark.operators.simsearch import vector_blocking

                cand = vector_blocking(ra, rb, k=cfg.k, tokens_col=cfg.tokens_col)
            else:
                ba, bb, tok_col, multiset = ra, rb, cfg.tokens_col, False
                if cfg.qgram:
                    # reference splitter QGram=N blocking: multiset q-grams
                    # of the canonical blob (settings.py per-dataset config)
                    from ertransfer_spark.functions.text import qgrams

                    qg = qgrams(F.col("agValue"), q=cfg.qgram,
                                multiset=cfg.qgram_multiset)
                    ba, bb = ra.withColumn("qg", qg), rb.withColumn("qg", qg)
                    tok_col, multiset = "qg", cfg.qgram_multiset
                cand = top_k_token_join(
                    ba, bb, k=cfg.k, metric=cfg.metric, tokens_col=tok_col,
                    multiset=multiset, reverse=cfg.reverse,
                    direction=cfg.direction, salt=cfg.salt,
                    salt_hot_product=cfg.salt_hot_product,
                    skinny_postings=cfg.skinny_postings, topk_mode=cfg.topk_mode,
                    hash_tokens=cfg.hash_tokens,
                    max_token_df=cfg.max_token_df, keep_rare_df=cfg.keep_rare_df,
                    posting_budget=cfg.posting_budget,
                    min_sim=cfg.min_sim,
                )
            return cand

        def _block_lineage(_cand):
            # per-block lineage from the token-frequency histogram
            return [
                {
                    "block_key": f"df<={r['df_bucket']}",
                    "candidate_count": int(r["n_tokens"]),
                    "comparisons": int(r["comparisons"]),
                }
                for r in block_histogram(ra, tokens_col=cfg.tokens_col).collect()
            ] or [{}]

        cand = self._stage("candidates", _block, resume, _block_lineage)

        golden = None
        if golden_matches is not None:
            golden = referential_filter(golden_matches, ra, rb)

        def _label_lineage(snap):
            m = snap.agg(F.sum("label")).collect()[0][0]
            return [{"candidate_count": self.catalog.num_rows("labeled"), "matches": int(m or 0)}]

        labeled = (
            self._stage("labeled", lambda: attach_labels(cand, golden), resume, _label_lineage)
            if golden is not None else cand
        )

        # corpus size for tfidf idf, from the committed records' footers —
        # tfidf_cosine would otherwise run two count() jobs
        n_docs_tfidf = (
            self.catalog.num_rows("records_a") + self.catalog.num_rows("records_b")
            if cfg.tfidf else None
        )

        def _featurize(pairs_df):
            ft = featurize(attach_pair_text(pairs_df, ra, rb, truncate=256))
            if cfg.attrs:
                from ertransfer_spark.operators.matcher import attr_features

                ft, _ = attr_features(
                    ft, raw_a, raw_b, list(cfg.attrs), extra=list(cfg.attr_extra)
                )
            if cfg.tfidf:
                from ertransfer_spark.operators.matcher import tfidf_cosine

                ft = tfidf_cosine(
                    ft, ra, rb, max_df=cfg.tfidf_max_df, n_docs=n_docs_tfidf
                )
            return ft

        feature_cols = None
        if cfg.attrs or cfg.tfidf:
            attr_names = [
                f"{c}_{suffix}" for c in cfg.attrs
                for suffix in ("present", "lev", "jac")
            ] + [f"{c}_{k}" for k, c in cfg.attr_extra]
            feature_cols = (
                FEATURES + attr_names + (["tfidf_cos"] if cfg.tfidf else [])
            )

        def _predict():
            # featurize every labeled pair ONCE: the lazy checkpoint is
            # materialized by the first action over it (the train collect,
            # or the unsupervised fit) and the scoring plan reads the same
            # blocks in the commit — the pandas-UDF featurization is the
            # matcher's dominant cost and used to run twice
            all_ft = _featurize(labeled).localCheckpoint(eager=False)
            if golden is not None and cfg.algorithm != "unsupervised":
                train_ft = stratified_split(all_ft, cfg.split_weights, cfg.seed)["train"]
                if (cfg.algorithm == "logreg" and cfg.local_train
                        and not cfg.train_params):
                    from ertransfer_spark.operators.matcher import (
                        train_matcher_local,
                    )

                    # deterministic hash-sample cap (scaling_worker.py
                    # recipe): the boundary estimate doesn't improve past
                    # ~100k pairs. Positives ALWAYS pass — on label-scarce
                    # corpora a label-blind sample can nearly erase them
                    # and degenerate the IRLS boundary — so the driver
                    # collect is bounded by n_positives + ~cap (ceil keeps
                    # the negative sample <= cap; floor allowed up to 2x).
                    # The train split is a subset of labeled, so its count
                    # (one scan of the labeled snapshot) is skipped when the
                    # snapshot's footer count already fits the cap.
                    keep = 1
                    if self.catalog.num_rows("labeled") > cfg.train_sample_cap:
                        n_train = stratified_split(
                            labeled, cfg.split_weights, cfg.seed
                        )["train"].count()
                        keep = max(1, -(-n_train // cfg.train_sample_cap))
                    if keep > 1:
                        train_ft = train_ft.filter(
                            (F.col("label") == 1)
                            | (F.pmod(
                                F.xxhash64("a_id", "b_id", F.lit(999)),
                                F.lit(keep),
                            ) == 0)
                        )
                    model = train_matcher_local(train_ft, feature_cols=feature_cols)
                else:
                    model = train_matcher(
                        train_ft, algorithm=cfg.algorithm,
                        seed=cfg.seed, feature_cols=feature_cols,
                        params=cfg.train_params,
                    )
                preds = score(model, all_ft)
            else:
                # no labels (or algorithm="unsupervised"): ZeroER-style GMM
                # over the similarity features — the reference paper's
                # no-labelled-instances regime (SURVEY M5)
                from ertransfer_spark.operators.matcher import (
                    score_unsupervised,
                    train_unsupervised,
                )

                um = train_unsupervised(all_ft, seed=cfg.seed, feature_cols=feature_cols)
                preds = score_unsupervised(um, all_ft)
            return preds

        preds = self._stage("predictions", _predict, resume)

        def _cluster():
            t = cfg.threshold
            if t is None and golden is not None:
                t = best_threshold(preds)
            elif t is None:
                t = 0.5
            if cfg.clustering == "umc":
                pairs = unique_mapping_clusters(preds, threshold=t)
            else:
                pairs = exact_clusters(preds, threshold=t)
            return pairs.withColumn("threshold", F.lit(float(t)))

        matched = self._stage("matched_pairs", _cluster, resume)
        clusters = self._stage("clusters", lambda: clusters_from_pairs(matched), resume)

        result = {"matched_pairs": matched, "clusters": clusters, "predictions": preds}
        if golden is not None:
            metrics = pairwise_metrics(matched, golden)
            # classifier-level (0.5-cutoff) diagnostics are namespaced so they
            # can't clobber the pairwise precision/recall/f1 — the reported
            # headline MUST be the clustering-vs-golden numbers (caught live:
            # d12 via CLI printed clf recall 0.093 while the actual pairwise
            # F1 of the same run was 0.449)
            metrics.update(
                {f"clf_{k}": v for k, v in evaluate_predictions(preds).items()}
            )
            mdf = self.spark.createDataFrame(
                [
                    {
                        "run_id": self.run_id,
                        "stage": "pipeline",
                        **{k: float(v) for k, v in metrics.items()},
                    }
                ]
            )
            self.catalog.commit("metrics", mdf, meta={"run_id": self.run_id})
            result["metrics"] = metrics
        return result
