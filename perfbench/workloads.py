"""The benchmark's workloads: what one pass calls, and how its output is
checked.

A pass rebuilds its DataFrames from the public API every time, so
planning and the checkpoints inside operators are paid on every pass,
as a user pays them. ``run`` is the timed interval; ``check`` runs
after it, untimed, and returns the list of failed checks.

In a traced run the same public call runs with the module functions it
reaches wrapped (``wrapped``): each wrapped call gets a span, and a lazy
layer's output is materialised into a noop sink at the end of its span
so that its work is timed there.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib
import re
import sys
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from perfbench import inputs
from perfbench.trace import Tracer

# Transcript turn keys; features are checked against fte.pandas_ref.
KEYS = ["conv_id", "turn_idx"]
# Folds of anchor_cv's grouped CV. Each fold repeats the same fit plan,
# so two measure what five would, at a run length a comparison can afford.
N_FOLDS = 2
CAPACITY = 2048

# HEADLINE of bench.py, plus incremental_neardup
CATALOG_QUERIES = [
    "sessionize", "session_stats", "rolling_counts", "asof_join",
    "asof_join_merge", "role_freq_running", "user_stats", "range_join",
    "pivot_user_types", "tpch_pricing", "revenue_by_segment",
    "doc_text_stats", "doc_quality", "lang_id", "minhash_neardup",
    "knn_bruteforce", "knn_batch", "emb_top_pairs_gemm",
    "pandas_udaf_median", "incremental_neardup",
]


def serve_features() -> tuple[object, list[str]]:
    from fte.features import build_default_registry

    reg = build_default_registry()
    return reg, [n for n, s in reg.features.items() if not s.leaky]


def spanned(name: str, layer: str, prefix: str | None = None, on_result=None):
    """Wrapper factory: a span around the call; a DataFrame result is
    materialised inside the span; ``on_result(tr, span, args, kwargs,
    result)`` may record counts."""

    def factory(tr: Tracer, orig):
        def wrapper(*a, **kw):
            with tr.span(name, layer, prefix=prefix) as s:
                out = orig(*a, **kw)
                if isinstance(out, DataFrame):
                    tr.materialize(out)
                if on_result is not None:
                    on_result(tr, s, a, kw, out)
            return out

        return wrapper

    return factory


def unwrapped(fn):
    return getattr(fn, "__wrapped__", fn)


@contextlib.contextmanager
def wrapped(tr: Tracer, targets: list[tuple]):
    """Replace each ``module:attr`` (``attr`` may be ``Class.method``) by
    ``factory(tr, original)``; restore the originals on exit."""
    saved = []
    for where, factory in targets:
        mod_name, attr = where.split(":")
        owner = importlib.import_module(mod_name)
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
        w = factory(tr, orig)
        w.__wrapped__ = orig
        saved.append((owner, leaf, orig))
        setattr(owner, leaf, w)
    try:
        yield
    finally:
        for owner, leaf, orig in reversed(saved):
            setattr(owner, leaf, orig)


@contextlib.contextmanager
def _quiet():
    """Job entry points print their own result lines; keep the
    benchmark's standard output for its own report."""
    with contextlib.redirect_stdout(sys.stderr):
        yield


def _exchanges(df: DataFrame) -> int:
    """Exchange nodes in the physical plan, read before execution."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("Exchange" in line for line in plan.splitlines())


def _scan_counts(tr, s, a, kw, out) -> None:
    df = a[0]
    s.counts["tasks"] = df.rdd.getNumPartitions()
    s.counts["spread"] = int(out is not df)


class Workload:
    name = ""
    rows_label = "rows"
    # measured warm passes a run makes at least, whatever --seconds says
    min_measured = 2

    def __init__(self, cache: Path, seed: int, size: dict):
        self.cache, self.seed, self.size = cache, seed, size
        self.checksums: dict[str, str] = {}
        self.rows = 0  # input rows one pass processes (for rows_per_s)

    def prepare(self) -> None:
        """Generate or reuse the seeded inputs (untimed, before Spark)."""

    def register(self, spark) -> None:
        """Read the inputs' schemas into the session (part of set-up)."""

    def run(self, spark, out: Path, tr: Tracer):
        raise NotImplementedError

    def check(self, spark, out: Path, result, state: dict) -> list[str]:
        return []

    def trace_targets(self) -> list[tuple]:
        return []

    def layer_counts(self, out: Path, counts: dict) -> None:
        """Per-layer counts taken from a pass's output files (traced runs)."""


# ---------------------------------------------------------------- transcripts

def _matrix(tr: Tracer, orig):
    """build_matrix in three spans: the scan of its input, its planning,
    and the window chain its output materialises."""

    def wrapper(df, *a, **kw):
        with tr.span("scan", "scan") as s:
            tr.materialize(df)
            s.counts.update(tasks=df.rdd.getNumPartitions(), spread=0)
        with tr.span("pipeline.plan", "pipeline") as s:
            out = orig(df, *a, **kw)
            s.counts["exchanges"] = _exchanges(out)
        with tr.span("windows", "windows", prefix="scan"):
            tr.materialize(out)
        return out

    return wrapper


MATRIX = [("fte.pipeline:build_matrix", _matrix), ("run_features:build_matrix", _matrix)]


class _Transcripts(Workload):
    rows_label = "turns"

    def prepare(self) -> None:
        self.tx = inputs.transcripts(self.cache, self.seed, self.size["turns"])
        meta = inputs.info(self.tx)
        self.rows = meta["rows"]
        self.checksums["transcripts"] = meta["checksum"]
        self._turns = None

    def turns(self) -> pd.DataFrame:
        if self._turns is None:
            self._turns = inputs.read_dataset(self.tx)
        return self._turns

    def register(self, spark) -> None:
        from fte.schema import TRANSCRIPTS_SCHEMA

        self.tx_df = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(str(self.tx))

    def sample_convs(self) -> list[str]:
        """Seeded sample of conversations; always holds the whale."""
        convs = sorted(self.turns()["conv_id"].unique())
        rng = np.random.default_rng([self.seed, 0x5A])
        pick = rng.choice(convs, min(len(convs), 40), replace=False)
        return sorted(set(pick) | {"conv-00000000"})

    def check_features(self, got: pd.DataFrame) -> list[str]:
        from fte import pandas_ref as ref

        errs = []
        if len(got) != self.rows:
            errs.append(f"rows {len(got)} != turns {self.rows}")
        if got.duplicated(KEYS).any():
            errs.append("duplicate (conv_id, turn_idx) keys")
        sample = self.sample_convs()
        t = self.turns()
        t = t[t["conv_id"].isin(sample)]
        exp = ref.ref_sessionize(t)
        for fn, cols in (
            (ref.ref_rolling_counts, ["turns_so_far", "turns_last_300s"]),
            (ref.ref_role_freq, [f"{p}_{r}" for p in ("cnt", "frac")
                                 for r in ("user", "assistant", "system", "tool")]),
            (ref.ref_rolling_text_stats, ["textlen_mean", "textlen_std", "textlen_min",
                                          "textlen_max", "textlen_sum"]),
            (ref.ref_backfill, ["ffill_tool"]),
            (ref.ref_lag_lead, ["lag_role_1", "gap_prev_s", "lag_textlen_1"]),
        ):
            r = fn(t)
            exp = exp.merge(r[KEYS + cols], on=KEYS)
        g = got[got["conv_id"].isin(sample)].merge(exp, on=KEYS, suffixes=("", "_ref"))
        if len(g) != len(t):
            errs.append(f"sample rows {len(g)} != {len(t)}")
        for c in [c for c in exp.columns if c + "_ref" in g.columns]:
            x, y = g[c], g[c + "_ref"]
            if pd.api.types.is_numeric_dtype(y) and not pd.api.types.is_bool_dtype(y):
                ok = np.isclose(x.to_numpy(float, na_value=np.nan), y.to_numpy(float, na_value=np.nan),
                                rtol=1e-9, atol=1e-9, equal_nan=True)
            else:
                ok = ((x.isna() & y.isna()) | (x.notna() & y.notna() & (x.astype(str) == y.astype(str)))).to_numpy()
            if not ok.all():
                errs.append(f"{c}: {int((~ok).sum())} values differ from pandas_ref")
        return errs


class Features(_Transcripts):
    name = "features"

    def args(self, out: Path) -> list[str]:
        return ["--input", str(self.tx), "--output", str(out / "features"), "--serve"]

    def run(self, spark, out: Path, tr: Tracer):
        import run_features

        with _quiet():
            return run_features.main(self.args(out))

    def check(self, spark, out: Path, result, state: dict) -> list[str]:
        got = inputs.read_dataset(out / "features")
        return self.check_features(got)

    def trace_targets(self) -> list[tuple]:
        return MATRIX + IO

    def layer_counts(self, out: Path, counts: dict) -> None:
        _io_counts(out / "features", counts)


IO = [
    ("pyspark.sql.readwriter:DataFrameWriter.parquet", spanned("io.write", "io", prefix="windows")),
    ("pyspark.sql.classic.dataframe:DataFrame.count", spanned("io.readback", "io")),
]


def _io_counts(path: Path, counts: dict) -> None:
    files = [p for p in path.rglob("*.parquet")]
    counts["io.files"] = len(files)
    counts["io.bytes_written"] = sum(p.stat().st_size for p in files)


class FeaturesResume(Features):
    name = "features_resume"

    def args(self, out: Path) -> list[str]:
        return super().args(out) + ["--resume"]

    def check(self, spark, out: Path, result, state: dict) -> list[str]:
        import json

        errs = super().check(spark, out, result, state)
        mans = [json.loads(p.read_text()) for p in (out / "features_meta").rglob("part_*.json")]
        if len(mans) != 8:
            errs.append(f"{len(mans)} manifests, expected 8")
        if sum(m["row_count"] for m in mans) != self.rows:
            errs.append("manifest row counts do not sum to the turn count")
        return errs

    def trace_targets(self) -> list[tuple]:
        def partitions(tr, s, a, kw, out):
            s.counts["partition_s"] = [r.wall_s for r in out]

        return super().trace_targets() + [
            ("fte.checkpoint:run_resumable", spanned("checkpoint", "checkpoint", on_result=partitions)),
            ("fte.checkpoint:content_checksum", spanned("checkpoint.verify", "checkpoint")),
        ]


class AnchorCV(_Transcripts):
    name = "anchor_cv"
    # a pass takes longer than --seconds; the median of three is not
    # moved by one pass a busy host slows, as the mean of two is
    min_measured = 3

    def prepare(self) -> None:
        super().prepare()
        self.anchors, self.labels = inputs.anchors_labels(self.cache, self.seed, self.tx)
        self.checksums["anchors"] = inputs.info(self.anchors)["checksum"]
        self.checksums["labels"] = inputs.info(self.labels)["checksum"]
        self.n_anchors = inputs.info(self.anchors)["rows"]

    def register(self, spark) -> None:
        super().register(spark)
        self.anchor_df = spark.read.parquet(str(self.anchors))
        self.label_df = spark.read.parquet(str(self.labels))

    def matrix(self, spark):
        from fte.pipeline import attach_labels, build_anchor_matrix

        reg, feats = serve_features()
        am = build_anchor_matrix(self.anchor_df, self.tx_df, reg, features=feats, strategy="window")
        fcols = [c for c, t in am.dtypes
                 if c.startswith("f_") and t in ("int", "bigint", "double", "float", "smallint", "boolean")]
        lab = attach_labels(am, self.label_df)
        m = (lab.filter(F.col("label_y").isNotNull() & F.col("f_turn_idx").isNotNull())
             .select("anchor_id", "conv_id", *[F.col(c).cast("double").alias(c) for c in fcols], "label_y")
             .na.fill(0.0, subset=fcols))
        return lab, m, fcols

    def run(self, spark, out: Path, tr: Tracer):
        from fte.evaluation import crossval_evaluate

        lab, m, fcols = self.matrix(spark)
        res = crossval_evaluate(m, fcols, "label_y", entity_col="conv_id", n_folds=N_FOLDS)
        return {"cv": res, "fcols": fcols}

    def check(self, spark, out: Path, result, state: dict) -> list[str]:
        """The first pass is checked against pandas_ref and numpy; every
        later pass must reproduce its fold metrics."""
        first = state.setdefault("cv", result["cv"])
        if first is not result["cv"]:
            return [f"fold {f}: {a} differs from the first pass's {b}"
                    for f, (a, b) in enumerate(zip(result["cv"]["folds"], first["folds"]))
                    if a["n"] != b["n"] or not np.isclose(a["r2"], b["r2"], rtol=1e-9)]
        return self._check_first(spark, result, state)

    def _check_first(self, spark, result, state: dict) -> list[str]:
        from fte import pandas_ref as ref

        errs = []
        lab, _, fcols = self.matrix(spark)
        full = lab.select("anchor_id", "conv_id", "ts", *fcols, "label_y").toPandas()
        state["match_frac"] = float(full["f_turn_idx"].notna().mean())
        if len(full) != self.n_anchors or full["anchor_id"].nunique() != self.n_anchors:
            errs.append(f"as-of output has {len(full)} rows for {self.n_anchors} anchors")
        anchors = pd.read_parquet(self.anchors)
        anchors["ts"] = anchors["ts"].astype("datetime64[us]")
        sample = set(self.sample_convs())
        a = anchors[anchors["conv_id"].isin(sample) | anchors["conv_id"].str.startswith("conv-unknown")]
        t = self.turns()
        exp = ref.ref_asof(a, t[t["conv_id"].isin(sample)], right_cols=("turn_idx", "ts"))
        g = full.merge(exp[["anchor_id", "r_turn_idx", "r_ts"]], on="anchor_id")
        if len(g) != len(a):
            errs.append(f"as-of sample has {len(g)} of {len(a)} anchors")
        if not (g["f_turn_idx"].fillna(-1).to_numpy(float)
                == g["r_turn_idx"].fillna(-1).to_numpy(float)).all():
            errs.append("as-of turn differs from pandas_ref.ref_asof")
        pdf = full[full["label_y"].notna() & full["f_turn_idx"].notna()].copy()
        pdf[fcols] = pdf[fcols].astype(float).fillna(0.0)
        errs += self._check_cv(pdf, fcols, result)
        return errs

    def _check_cv(self, pdf: pd.DataFrame, fcols: list[str], result) -> list[str]:
        fold = np.array([int(hashlib.md5(f"{c}#cv42".encode()).hexdigest()[:8], 16) % N_FOLDS
                         for c in pdf["conv_id"]])
        X = np.column_stack([pdf[fcols].to_numpy(float), np.ones(len(pdf))])
        y = pdf["label_y"].to_numpy(float)
        errs = []
        r2s = []
        for f, got in zip(range(N_FOLDS), result["cv"]["folds"]):
            tr, te = fold != f, fold == f
            w = np.linalg.solve(X[tr].T @ X[tr] + 1e-6 * np.eye(X.shape[1]), X[tr].T @ y[tr])
            e = X[te] @ w - y[te]
            r2 = 1 - (e @ e) / ((y[te] - y[te].mean()) @ (y[te] - y[te].mean()))
            r2s.append(r2)
            if got["n"] != int(te.sum()) or not np.isclose(got["r2"], r2, rtol=1e-4, atol=1e-6):
                errs.append(f"fold {f}: r2 {got['r2']:.6f} n {got['n']} vs numpy {r2:.6f} n {int(te.sum())}")
        if np.mean(r2s) < 0.3:
            errs.append(f"planted signal not found: mean r2 {np.mean(r2s):.3f}")
        return errs

    def trace_targets(self) -> list[tuple]:
        def fit_count(tr, s, a, kw, out):
            d = len(a[1]) + 1
            s.counts["fit_agg_exprs"] = d * (d + 1) // 2 + d

        return MATRIX + [
            ("fte.operators.asof:asof_join_window", spanned("asof", "asof", prefix="windows")),
            ("fte.evaluation:crossval_evaluate", spanned("evaluation", "evaluation")),
            ("fte.evaluation:fit_ridge", spanned("evaluation.fit", "evaluation", on_result=fit_count)),
            ("fte.evaluation:regression_metrics", spanned("evaluation.metrics", "evaluation")),
        ]


# ---------------------------------------------------------------- documents

class Curate(Workload):
    name = "curate"
    rows_label = "documents"

    def prepare(self) -> None:
        self.docs = inputs.documents(self.cache, self.seed, self.size["docs"])
        meta = inputs.info(self.docs)
        self.rows = meta["rows"]
        self.checksums["documents"] = meta["checksum"]
        self.path = str(self.docs / "documents.parquet")

    def register(self, spark) -> None:
        spark.read.parquet(self.path)

    def run(self, spark, out: Path, tr: Tracer):
        from run_curation import curate

        return curate(spark, self.path, str(out / "curated"))

    def check(self, spark, out: Path, result, state: dict) -> list[str]:
        errs = []
        f = {k: v for k, v in result.items() if k != "wall_s"}
        chain = ["n_input", "n_lang", "n_quality", "n_repetition", "n_exact_dedup", "n_neardup", "n_train"]
        if any(f[a] < f[b] for a, b in zip(chain, chain[1:])):
            errs.append(f"funnel increases: {f}")
        if f["n_input"] != self.rows:
            errs.append(f"n_input {f['n_input']} != {self.rows}")
        if state.setdefault("funnel", f) != f:
            errs.append(f"funnel differs from the first pass: {f} vs {state['funnel']}")
        docs = inputs.read_dataset(out / "curated" / "documents")
        ids = set(pd.read_parquet(self.path, columns=["doc_id"])["doc_id"])
        if len(docs) != f["n_neardup"] or not set(docs["doc_id"]) <= ids:
            errs.append("survivors are not the funnel's subset of the input")
        ch = inputs.read_dataset(out / "curated" / "chunks")
        if len(ch) != f["n_chunks"]:
            errs.append(f"chunks {len(ch)} != funnel {f['n_chunks']}")
        # packing runs once per split, so a bin is keyed by its split and
        # holds that split only
        bins = ch.groupby(["split", "shard", "bin_idx"], observed=True)["n_tokens"].sum()
        if (bins > CAPACITY).any():
            errs.append(f"{int((bins > CAPACITY).sum())} bins over capacity")
        state["fill"] = float(ch["n_tokens"].sum() / (len(bins) * CAPACITY)) if len(bins) else 0.0
        return errs

    def trace_targets(self) -> list[tuple]:
        return [
            ("fte.scan:spread", spanned("scan", "scan", on_result=_scan_counts)),
            ("fte.operators.text:with_lang_id", spanned("text.lang", "text", prefix="scan")),
            ("fte.operators.text:with_quality_score", spanned("text.quality", "text", prefix="text.lang")),
            ("fte.operators.text:with_repetition_stats",
             spanned("text.repetition", "text", prefix="text.quality")),
            ("fte.operators.text:redact_pii", spanned("text.pii", "text", prefix="text.repetition")),
            ("fte.operators.dedup:exact_dedup", spanned("dedup.exact", "dedup", prefix="text.pii")),
            ("fte.operators.dedup:minhash_lsh_pairs",
             spanned("dedup.minhash", "dedup", prefix="dedup.exact", on_result=_minhash_counts)),
            ("fte.operators.text:chunk_documents", spanned("text.chunk", "text")),
            ("fte.operators.packing:pack_documents", spanned("packing", "packing", prefix="text.chunk")),
            ("pyspark.sql.classic.dataframe:DataFrame.count", spanned("curate.count", "curate")),
        ]


def _minhash_counts(tr, s, a, kw, out) -> None:
    """Candidate pairs, verified pairs and the largest LSH band bucket for
    the curation defaults (32 hashes, 8 bands), measured in a child span."""
    from fte.operators import dedup

    df = a[0]
    count = unwrapped(type(out).count)
    with tr.span("dedup.stats", "dedup"):
        s.counts["candidate_pairs"] = count(unwrapped(dedup.minhash_lsh_pairs)(df, verify=False))
        s.counts["verified_pairs"] = count(out)
        sig = dedup.with_minhash(df.select("doc_id", "text"), "text", num_hashes=32)
        col = [c for c in sig.columns if c not in ("doc_id", "text")][0]
        bands = sig.select(F.posexplode(F.array(*[
            F.xxhash64(F.slice(F.col(col), 4 * b + 1, 4)) for b in range(8)])).alias("band", "h"))
        s.counts["max_bucket"] = bands.groupBy("band", "h").count().agg(F.max("count")).first()[0]


# ---------------------------------------------------------------- catalog

class Catalog(Workload):
    name = "catalog"

    def prepare(self) -> None:
        self.dir = inputs.catalog(self.cache, self.seed, self.size["scale"])
        meta = inputs.info(self.dir)
        self.rows = meta["rows"]
        self.checksums["catalog"] = meta["checksum"]

    def register(self, spark) -> None:
        from fte.queries import catalog

        self.cat = catalog()
        for p in sorted(self.dir.glob("*.parquet")):
            spark.read.parquet(str(p))

    def run(self, spark, out: Path, tr: Tracer):
        got = {}
        for q in CATALOG_QUERIES:
            with tr.span(f"catalog.{q}", "catalog"):
                got[q] = self.cat[q][0](spark, str(self.dir)).toPandas()
        return got

    def check(self, spark, out: Path, result, state: dict) -> list[str]:
        import duckdb

        from tools.check_oracle import compare

        errs = []
        con = state.get("duckdb")
        if con is None:
            con = state["duckdb"] = duckdb.connect()
            for p in sorted(self.dir.glob("*.parquet")):
                con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
            state["oracle"] = {}
        for q, ours in result.items():
            sql = self.cat[q][1]
            if sql is None:
                errs += _check_neardup(q, ours, self.dir / "documents.parquet")
                continue
            if q not in state["oracle"]:
                state["oracle"][q] = con.sql(sql).df()
            errs += [f"{q}: {e}" for e in compare(q, ours, state["oracle"][q])]
        return errs

    def trace_targets(self) -> list[tuple]:
        def scan_counts(tr, s, a, kw, out):
            raw = a[0].read.parquet(f"{a[1]}/{a[2]}.parquet")
            s.counts.update(tasks=raw.rdd.getNumPartitions(),
                            spread=int(out.rdd.getNumPartitions() != raw.rdd.getNumPartitions()))

        return [
            ("fte.scan:t_spread", spanned("scan", "scan", on_result=scan_counts)),
            ("fte.queries:asof_join_window", spanned("asof", "asof")),
            ("fte.queries:asof_join_merge", spanned("asof", "asof")),
            ("fte.queries_ml:with_lang_id", spanned("text.lang", "text")),
            ("fte.queries_ml:with_quality_score", spanned("text.quality", "text")),
            ("fte.queries_ml:minhash_lsh_pairs", spanned("dedup.minhash", "dedup")),
            ("fte.operators.dedup:incremental_neardup", spanned("dedup.incremental", "dedup")),
            ("fte.operators.similarity:brute_force_topk", spanned("similarity", "similarity")),
            ("fte.queries_ml:knn_join", spanned("similarity", "similarity")),
            ("fte.operators.similarity:all_pairs_topk_gemm", spanned("similarity", "similarity")),
        ]


def _check_neardup(q: str, pairs: pd.DataFrame, docs: Path) -> list[str]:
    """minhash_neardup has no oracle. Each reported pair's exact word
    3-gram Jaccard is recomputed here from the documents and their
    tail-mutated copies: it must meet the 0.5 threshold and equal the
    reported ``jaccard``."""
    from fte.queries_ml import MUT_TAIL

    d = pd.read_parquet(docs, columns=["doc_id", "text"])
    text = dict(zip(d["doc_id"], d["text"]))
    text.update({i + 100000: t + MUT_TAIL for i, t in zip(d["doc_id"], d["text"])})

    def grams(t: str) -> set[str]:
        # the engine's normalisation: trim spaces, collapse whitespace, lower
        w = re.sub(r"\s+", " ", t.strip(" "), flags=re.ASCII).lower().split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else {" ".join(w)}

    if not len(pairs):
        return [f"{q}: no pairs"]
    errs = []
    for a, b, got in pairs[["id_a", "id_b", "jaccard"]].itertuples(index=False):
        ga, gb = grams(text[a]), grams(text[b])
        exact = len(ga & gb) / max(len(ga | gb), 1)
        if exact < 0.5 or abs(exact - got) > 1e-6:
            errs.append(f"{q}: pair ({a}, {b}) reports Jaccard {got}, exact {exact:.6f}")
    return errs


WORKLOADS = {w.name: w for w in (Features, FeaturesResume, AnchorCV, Curate, Catalog)}
