"""Correctness gate, run outside the timed region on every benchmark run.

``match_rate`` is the share of sampled output keys that agree with an
independent computation:

* point-in-time pipelines — window features and ``feature_vec`` at each
  sampled ``(conv_id, turn_idx)`` against ``oracle.oracle_features``
  (``numpy.allclose`` tolerances of the test suite), and sampled as-of rows
  against ``oracle.oracle_asof``;
* i-vector pipeline — ``feature_vec`` as above, the UBM against a numpy
  split-EM on all feature vectors, per-conversation stat0/stat1 and latent
  factors against numpy recomputation from the committed upstream stage,
  and the TV matrix against a numpy TV EM on all committed stats.

``leakage_rows`` counts as-of rows with ``matched_ts > anchor_ts``
(``validation.leakage_violations``) over the whole as-of output.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from featureengineer_spark.oracle import oracle_asof, oracle_features
from featureengineer_spark.validation import leakage_violations

RTOL, ATOL = 1e-5, 1e-8  # the suite's allclose gate for feature_vec
MODEL_RTOL, MODEL_ATOL = 1e-6, 1e-9  # distributed vs numpy EM
SAMPLE_CONVS = 24
SAMPLE_ANCHORS = 160

WINDOW_COLS = [
    "lag1_role", "lead1_role", "inter_turn_latency_s", "session_id",
    "rolling_user_turns_10", "rolling_assistant_turns_10",
    "rolling_tool_calls_10", "tool_backfilled",
]


@dataclass
class GateResult:
    checked: int = 0
    matched: int = 0
    leakage_rows: int = 0
    errors: list[str] = field(default_factory=list)

    def add(self, what: str, ok: np.ndarray) -> None:
        ok = np.asarray(ok, dtype=bool)
        self.checked += int(ok.size)
        self.matched += int(ok.sum())
        if ok.size and not ok.all():
            self.errors.append(f"{what}: {int((~ok).sum())}/{ok.size} keys disagree")

    @property
    def match_rate(self) -> float:
        return self.matched / self.checked if self.checked else 0.0

    @property
    def ok(self) -> bool:
        return self.checked > 0 and self.matched == self.checked and self.leakage_rows == 0 and not self.errors


def sample_convs(inputs, seed: int) -> list[str]:
    """Seeded conversation sample; always includes the first
    mega-conversation, so heavy-key paths are checked too."""
    rng = np.random.default_rng(seed + 1)
    mega = len(inputs.mega_ids)
    pool = np.arange(mega, inputs.n_convs)
    picks = rng.choice(pool, size=min(SAMPLE_CONVS, len(pool)), replace=False)
    return inputs.mega_ids[:1] + [f"conv_{i}" for i in sorted(picks)]


def _stage(spark, root: str, stage: str):
    return spark.read.parquet(os.path.join(root, stage, "data"))


def _rows(df, convs, cols=None):
    df = df.filter(F.col("conv_id").isin(convs))
    if cols:
        df = df.select(*cols)
    return df.toPandas()


def _same(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Elementwise equality with null == null."""
    a, b = a.reset_index(drop=True), b.reset_index(drop=True)
    both_null = a.isna() & b.isna()
    return (both_null | (a == b).fillna(False)).to_numpy(dtype=bool)


def _close(a, b, rtol=RTOL, atol=ATOL) -> np.ndarray:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    both_nan = np.isnan(a) & np.isnan(b)
    return both_nan | np.isclose(a, b, rtol=rtol, atol=atol)


def _vec_close(a: pd.Series, b: pd.Series) -> np.ndarray:
    out = np.zeros(len(a), dtype=bool)
    for i, (x, y) in enumerate(zip(a, b)):
        if x is None or y is None or (np.ndim(x) == 0 and pd.isna(x)):
            out[i] = (x is None or np.ndim(x) == 0) and (y is None or np.ndim(y) == 0)
        else:
            out[i] = len(x) == len(y) and bool(np.allclose(x, y, rtol=RTOL, atol=ATOL))
    return out


def _expected_features(spark, inputs, convs):
    exp = oracle_features(_rows(inputs.transcripts(spark), convs),
                          idle_timeout_s=1800.0, rolling_window=10)
    return exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _check_features(res: GateResult, exp: pd.DataFrame, got: pd.DataFrame, cols_check: bool) -> None:
    got = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    if len(got) != len(exp):
        res.errors.append(f"features: {len(got)} rows for sampled convs, expected {len(exp)}")
        m = exp.merge(got, on=["conv_id", "turn_idx"], how="left", suffixes=("", "_got"))
    else:
        m = exp.join(got.drop(columns=["conv_id", "turn_idx"]), rsuffix="_got")
        m["_key_ok"] = (got["conv_id"] == exp["conv_id"]) & (got["turn_idx"] == exp["turn_idx"])
    ok = _same(m["ts"], m["ts_got"]) & _vec_close(m["feature_vec"], m["feature_vec_got"])
    if "_key_ok" in m:
        ok &= m["_key_ok"].to_numpy()
    res.add("feature_vec", ok)
    if cols_check:
        wok = np.ones(len(m), dtype=bool)
        for c in WINDOW_COLS:
            if c == "inter_turn_latency_s":
                wok &= _close(m[c], m[c + "_got"])
            else:
                wok &= _same(m[c], m[c + "_got"])
        res.add("window features", wok)


def check_pit(spark, inputs, root: str, seed: int, frames: dict | None = None) -> GateResult:
    """Gate for pit_uniform / pit_skew. ``frames`` may replace a committed
    stage output (``windows``/``features``/``asof``) — the self-test plants
    faults through it."""
    frames = frames or {}
    res = GateResult()
    convs = sample_convs(inputs, seed)
    frame = lambda s: frames[s] if s in frames else _stage(spark, root, s)  # noqa: E731

    exp = _expected_features(spark, inputs, convs)
    win = _rows(frame("windows"), convs, ["conv_id", "turn_idx", *WINDOW_COLS])
    feat = _rows(frame("features"), convs, ["conv_id", "turn_idx", "ts", "feature_vec"])
    got = win.merge(feat, on=["conv_id", "turn_idx"], how="outer")
    _check_features(res, exp, got, cols_check=True)

    asof = frame("asof")
    res.leakage_rows = int(leakage_violations(asof).count())
    got_a = _rows(asof, convs, ["conv_id", "anchor_ts", "matched_ts", "turn_idx", "feature_vec"])
    n_anchors = (
        spark.read.parquet(inputs.anchors_path).filter(F.col("conv_id").isin(convs)).count()
    )
    if len(got_a) != n_anchors:
        res.errors.append(f"asof: {len(got_a)} rows for sampled convs, expected {n_anchors}")
    rng = np.random.default_rng(seed + 2)
    pick = np.sort(rng.choice(len(got_a), size=min(SAMPLE_ANCHORS, len(got_a)), replace=False))
    got_a = got_a.iloc[pick].reset_index(drop=True)
    want = oracle_asof(
        exp[["conv_id", "ts", "turn_idx", "feature_vec"]],
        got_a[["conv_id", "anchor_ts"]],
        value_cols=["turn_idx", "feature_vec"],
    )
    ok = (
        _same(got_a["matched_ts"], want["matched_ts"])
        & _same(got_a["turn_idx"].astype("Int64"), want["turn_idx"].astype("Int64"))
        & _vec_close(got_a["feature_vec"], want["feature_vec"])
    )
    res.add("asof rows", ok)
    return res


# -- i-vector back end --------------------------------------------------------


def _responsibilities(x, w, mu, var):
    lg = (
        np.log(w)[None, :]
        - 0.5 * np.log(2 * np.pi * var).sum(axis=1)[None, :]
        - 0.5 * (((x[:, None, :] - mu[None, :, :]) ** 2) / var[None, :, :]).sum(axis=2)
    )
    lg -= lg.max(axis=1, keepdims=True)
    p = np.exp(lg)
    return p / p.sum(axis=1, keepdims=True)


def numpy_split_em(x, n_components, iters, min_var=1e-6, eps=0.1):
    """Single-node UBM: global Gaussian, then split 1→2→…→K with ``iters``
    EM iterations at each size."""
    w = np.array([1.0])
    mu = x.mean(axis=0, keepdims=True)
    var = np.maximum(x.var(axis=0, keepdims=True), min_var)
    while mu.shape[0] < n_components:
        sd = np.sqrt(var)
        mu = np.concatenate([mu + eps * sd, mu - eps * sd])
        var = np.concatenate([var, var])
        w = np.concatenate([w, w]) / 2.0
        for _ in range(iters):
            g = _responsibilities(x, w, mu, var)
            nk = np.maximum(g.sum(axis=0), 1e-12)
            mu = (g.T @ x) / nk[:, None]
            var = np.maximum((g.T @ (x * x)) / nk[:, None] - mu * mu, min_var)
            w = g.sum(axis=0) / len(x)
    return w, mu, var


def _whiten(s0, s1, mu, var):
    k, d = mu.shape
    return (s1 - np.repeat(s0, d, axis=1) * mu.reshape(-1)) / np.sqrt(var.reshape(-1))


def numpy_tv_em(s0, s1w, f, k, d, n_iter):
    """Factor-analysis EM with minimum-divergence rescale, per session."""
    r = f.shape[1]
    comp = np.repeat(np.arange(k), d)
    for _ in range(n_iter):
        a_acc = np.zeros((k, r, r))
        c_acc = np.zeros((r, k * d))
        r_acc = np.zeros((r, r))
        for s in range(s0.shape[0]):
            lam = np.eye(r) + (f.T * s0[s, comp]) @ f
            cov = np.linalg.inv(lam)
            ew = cov @ (f.T @ s1w[s])
            eww = cov + np.outer(ew, ew)
            a_acc += s0[s][:, None, None] * eww[None]
            c_acc += np.outer(ew, s1w[s])
            r_acc += eww
        new_f = np.empty_like(f)
        for c in range(k):
            idx = slice(c * d, (c + 1) * d)
            new_f[idx] = np.linalg.solve(a_acc[c], c_acc[:, idx]).T
        f = new_f @ np.linalg.cholesky(r_acc / s0.shape[0]).T
    return f


def check_ivector(spark, inputs, root: str, seed: int, cfg: dict, frames: dict | None = None) -> GateResult:
    """Gate for ivector_train: every stage checked against numpy."""
    frames = frames or {}
    res = GateResult()
    convs = sample_convs(inputs, seed)
    frame = lambda s: frames[s] if s in frames else _stage(spark, root, s)  # noqa: E731
    k, rank = cfg["n_components"], cfg["tv_rank"]

    exp = _expected_features(spark, inputs, convs)
    feats = frame("features")
    _check_features(res, exp, _rows(feats, convs, ["conv_id", "turn_idx", "ts", "feature_vec"]), False)

    def model(stage):
        with np.load(os.path.join(root, stage, "model.npz")) as z:
            return {n: z[n] for n in z.files}

    ubm = model("ubm")
    x = np.vstack(feats.select("feature_vec").toPandas()["feature_vec"].to_numpy())
    d = x.shape[1]
    w, mu, var = numpy_split_em(x, k, cfg["ubm_iters_per_stage"])
    res.add(
        "ubm components",
        np.isclose(ubm["weights"], w, rtol=MODEL_RTOL, atol=MODEL_ATOL)
        & np.isclose(ubm["means"], mu, rtol=MODEL_RTOL, atol=MODEL_ATOL).all(axis=1)
        & np.isclose(ubm["variances"], var, rtol=MODEL_RTOL, atol=MODEL_ATOL).all(axis=1),
    )

    # stat0/stat1 of sampled conversations from the committed features + UBM
    fs = _rows(feats, convs, ["conv_id", "feature_vec"])
    stats = frame("stats").toPandas().set_index("conv_id")
    ok = []
    for c, g in fs.groupby("conv_id"):
        xc = np.vstack(g["feature_vec"].to_numpy())
        gam = _responsibilities(xc, ubm["weights"], ubm["means"], ubm["variances"])
        s0 = gam.sum(axis=0)
        s1 = (gam.T @ xc).reshape(-1)
        row = stats.loc[c] if c in stats.index else None
        ok.append(
            row is not None
            and np.allclose(row["stat0"], s0, rtol=MODEL_RTOL, atol=MODEL_ATOL)
            and np.allclose(row["stat1"], s1, rtol=MODEL_RTOL, atol=MODEL_ATOL)
        )
    res.add("stat0/stat1", np.array(ok))

    # TV matrix from all committed stats; latent factors of sampled convs
    s0 = np.vstack(stats["stat0"].to_numpy())
    s1w = _whiten(s0, np.vstack(stats["stat1"].to_numpy()), ubm["means"], ubm["variances"])
    f0 = np.random.default_rng(cfg.get("tv_seed", 0)).standard_normal((k * d, rank))
    f_want = numpy_tv_em(s0, s1w, f0, k, d, cfg["tv_iters"])
    f_got = model("tv")["F_mat"]
    res.add("tv rows", np.isclose(f_got, f_want, rtol=MODEL_RTOL, atol=MODEL_ATOL).all(axis=1))

    lat = frame("latent").filter(F.col("conv_id").isin(convs)).toPandas().set_index("conv_id")
    pos = {c: i for i, c in enumerate(stats.index)}
    comp = np.repeat(np.arange(k), d)
    ok = []
    for c in convs:
        i = pos.get(c)
        if i is None or c not in lat.index:
            ok.append(False)
            continue
        lam = np.eye(rank) + (f_got.T * s0[i, comp]) @ f_got
        want = np.linalg.solve(lam, f_got.T @ s1w[i])
        ok.append(bool(np.allclose(lat.loc[c, "latent"], want, rtol=MODEL_RTOL, atol=MODEL_ATOL)))
    res.add("latent", np.array(ok))
    return res
