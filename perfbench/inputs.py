"""Seeded benchmark inputs: transcripts, anchors, labels, documents and
the catalog tables.

Every table is a pure function of (seed, size). Generation is plain
numpy/pandas/pyarrow in the benchmark process, so it runs before the
measured Spark session exists and never warms it. Each table is written once per
(seed, size) under the cache directory and reused; a content checksum
(order-insensitive, over the decoded rows) is reported with the
results so that two runs provably read the same data.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fte.synth import gen_conversation

WHALE_TURNS = 5000
LANGS = ("en", "de", "fr", "es", "zh")


def content_checksum(df: pd.DataFrame) -> str:
    """Order-insensitive 64-bit checksum of a table's rows."""
    h = pd.util.hash_pandas_object(df.astype(str), index=False).to_numpy(np.uint64)
    return f"{int(h.sum(dtype=np.uint64)):016x}"


def _cached(cache: Path, name: str, build) -> Path:
    """Build ``cache/name`` once; a completed build leaves ``_DONE``."""
    out = cache / name
    if (out / "_DONE").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = cache / f".{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    info = build(tmp)
    (tmp / "_DONE").write_text(json.dumps(info))
    tmp.rename(out)
    return out


def info(path: Path) -> dict:
    return json.loads((path / "_DONE").read_text())


def _write_one_group(df: pd.DataFrame, path: Path, compression: str = "zstd") -> None:
    t = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(t, path, row_group_size=max(t.num_rows, 1), compression=compression)


# ---------------------------------------------------------------- transcripts

def conv_length(seed: int, conv_idx: int, whale: bool = True) -> int:
    """Per-conversation turn count, the same draw
    ``fte.synth.gen_transcripts_df`` makes for (seed, conv_idx)."""
    rng = np.random.default_rng([seed, 0xBEEF, int(conv_idx)])
    u = rng.random()
    if conv_idx == 0 and whale:
        return WHALE_TURNS
    if u < 0.01:
        return 1
    if u < 0.81:
        return int(rng.integers(2, 21))
    return int(min(2 + rng.pareto(1.2) * 8, 200))


def gen_transcripts(seed: int, n_convs: int) -> pd.DataFrame:
    """Row-for-row the table ``gen_transcripts_df(spark, n_convs, seed)``
    yields, generated without a Spark session."""
    frames = [gen_conversation(seed, i, conv_length(seed, i)) for i in range(n_convs)]
    out = pd.concat(frames, ignore_index=True)
    out["ts"] = out["ts"].astype("datetime64[us]")
    return out


def convs_for_turns(seed: int, turns: int) -> int:
    """The fewest conversations whose turns reach ``turns``, so that every
    seed gives nearly the same table size."""
    n = total = 0
    while total < turns:
        total += conv_length(seed, n)
        n += 1
    return n


def transcripts(cache: Path, seed: int, turns: int, n_files: int = 4) -> Path:
    """Multi-file parquet of about ``turns`` turns, conversations split
    across ``n_files``."""
    n_convs = convs_for_turns(seed, turns)

    def build(tmp: Path) -> dict:
        df = gen_transcripts(seed, n_convs)
        part = np.arange(len(df)) * n_files // max(len(df), 1)
        for i in range(n_files):
            _write_one_group(df[part == i], tmp / f"part-{i:05d}.parquet")
        return {"rows": len(df), "convs": n_convs, "checksum": content_checksum(df)}

    return _cached(cache, f"transcripts-s{seed}-c{n_convs}", build)


def read_dataset(path: Path) -> pd.DataFrame:
    """A parquet directory (hive partition columns included), timestamps
    in microseconds."""
    df = pq.read_table(str(path)).to_pandas()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df


# ---------------------------------------------------------------- anchors + labels

def gen_anchors(turns: pd.DataFrame, seed: int, per_conv: float = 1.8) -> pd.DataFrame:
    """Anchors over the four as-of cases of FIXTURES.md §2 — ts equal to a
    turn ts, between turns, before the first turn, after the last — plus
    ~10% anchors on unknown conversations. Vectorised: linear in turns."""
    rng = np.random.default_rng([seed, 0xA11C])
    t = turns.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    g = t.groupby("conv_id", sort=True)["ts"]
    stats = pd.DataFrame({"tmin": g.min(), "tmax": g.max(), "n": g.size()})
    start = np.concatenate([[0], np.cumsum(stats["n"].to_numpy())[:-1]])
    n_anchor = rng.poisson(per_conv, len(stats))
    conv_ix = np.repeat(np.arange(len(stats)), n_anchor)
    kind = rng.integers(0, 4, len(conv_ix))
    tmin = stats["tmin"].to_numpy()[conv_ix].astype("datetime64[us]").astype(np.int64)
    tmax = stats["tmax"].to_numpy()[conv_ix].astype("datetime64[us]").astype(np.int64)
    pick = start[conv_ix] + (rng.random(len(conv_ix)) * stats["n"].to_numpy()[conv_ix]).astype(np.int64)
    exact = t["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)[pick]
    between = tmin + (rng.random(len(conv_ix)) * np.maximum(tmax - tmin, 1_000_000)).astype(np.int64)
    before = tmin - ((1 + rng.exponential(60, len(conv_ix))) * 1e6).astype(np.int64)
    after = tmax + ((1 + rng.exponential(60, len(conv_ix))) * 1e6).astype(np.int64)
    ts = np.choose(kind, [exact, between, before, after])
    conv = stats.index.to_numpy()[conv_ix]
    n_unknown = max(len(conv) // 9, 1)
    unk_ts = np.datetime64("2025-03-01", "us").astype(np.int64) + np.arange(n_unknown) * 97_000_000
    out = pd.DataFrame(
        {
            "conv_id": np.concatenate([conv, [f"conv-unknown-{j:05d}" for j in range(n_unknown)]]),
            "ts": np.concatenate([ts, unk_ts]).astype("datetime64[us]"),
        }
    )
    out.insert(0, "anchor_id", np.arange(len(out), dtype=np.int64))
    return out


def gen_labels(turns: pd.DataFrame, anchors: pd.DataFrame, seed: int) -> pd.DataFrame:
    """One label per anchor that has a turn at or before it, observed 1 µs
    before the anchor, with a planted linear signal on the as-of matched
    turn: y = 0.05 × turn_idx + N(0, 0.1²)."""
    rng = np.random.default_rng([seed, 0x1AB])
    t = turns[["conv_id", "ts", "turn_idx"]].sort_values(["ts", "turn_idx"], kind="mergesort")
    a = anchors.sort_values(["ts", "anchor_id"], kind="mergesort")
    m = pd.merge_asof(a, t, on="ts", by="conv_id", direction="backward").dropna(subset=["turn_idx"])
    m = m.sort_values("anchor_id", kind="mergesort")
    return pd.DataFrame(
        {
            "conv_id": m["conv_id"].to_numpy(),
            "ts": (m["ts"] - pd.Timedelta(microseconds=1)).astype("datetime64[us]").to_numpy(),
            "y": m["turn_idx"].to_numpy(float) * 0.05 + rng.normal(0, 0.1, len(m)),
        }
    )


def anchors_labels(cache: Path, seed: int, tx: Path) -> tuple[Path, Path]:
    turns = read_dataset(tx)

    def build_anchors(tmp: Path) -> dict:
        df = gen_anchors(turns, seed)
        _write_one_group(df, tmp / "part-00000.parquet")
        return {"rows": len(df), "checksum": content_checksum(df)}

    anchors = _cached(cache, f"anchors-{tx.name}", build_anchors)

    def build_labels(tmp: Path) -> dict:
        df = gen_labels(turns, read_dataset(anchors), seed)
        _write_one_group(df, tmp / "part-00000.parquet")
        return {"rows": len(df), "checksum": content_checksum(df)}

    return anchors, _cached(cache, f"labels-{tx.name}", build_labels)


# ---------------------------------------------------------------- documents

_CONTENT = (
    "data model token query table stream vector window batch value column "
    "spark scan merge filter order group key line part sort join hash"
).split()
_STOP = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "pour"),
    "es": ("el", "los", "las", "es", "una", "que", "por", "con"),
    "zh": ("数据", "模型", "查询", "表格", "流", "向量", "窗口", "批次"),
}


def gen_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A corpus with the shape of the engine's ``documents`` table: five
    languages (40% en), ~300 characters per document, 20 sources, and
    planted defects — ~4% exact duplicates, ~6% near duplicates (a few
    words changed), ~10% documents carrying e-mail, phone or SSN PII,
    and ~3% degenerate repeated-word documents."""
    rng = np.random.default_rng([seed, 0xD0C5])
    langs = rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    texts = []
    for i in range(n_docs):
        n_words = int(rng.integers(25, 75))
        stop = _STOP[langs[i]]
        is_stop = rng.random(n_words) < 0.35
        words = np.where(
            is_stop,
            np.array(stop)[rng.integers(0, len(stop), n_words)],
            np.array(_CONTENT)[rng.integers(0, len(_CONTENT), n_words)],
        ).tolist()
        u = rng.random()
        if u < 0.10:  # PII
            kind = rng.integers(0, 3)
            pii = (
                f"user{rng.integers(0, 10**6)}@example.com",
                f"+1-{rng.integers(100, 1000)}-{rng.integers(1000, 10000)}",
                f"{rng.integers(100, 1000)}-{rng.integers(10, 100)}-{rng.integers(1000, 10000)}",
            )[kind]
            words.insert(int(rng.integers(0, len(words))), pii)
        elif u < 0.13:  # degenerate repetition
            words = [words[0]] * n_words
        texts.append(" ".join(words).capitalize() + ".")
    texts = np.array(texts, dtype=object)
    # near duplicates: copy an earlier document and change ~5% of its words
    near = np.flatnonzero(rng.random(n_docs) < 0.06)
    for i in near[near > 0]:
        src = texts[int(rng.integers(0, i))].split(" ")
        for j in rng.integers(0, len(src), max(len(src) // 20, 1)):
            src[j] = _CONTENT[int(rng.integers(0, len(_CONTENT)))]
        texts[i] = " ".join(src)
    # exact duplicates: copy an earlier document verbatim
    dup = np.flatnonzero(rng.random(n_docs) < 0.04)
    for i in dup[dup > 0]:
        texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def documents(cache: Path, seed: int, n_docs: int) -> Path:
    """One uncompressed file, one row group: the single-task scan layout
    that ``fte.scan.spread`` exists for, and above its 256 KB floor."""

    def build(tmp: Path) -> dict:
        df = gen_documents(seed, n_docs)
        _write_one_group(df, tmp / "documents.parquet", compression="none")
        return {"rows": len(df), "checksum": content_checksum(df)}

    return _cached(cache, f"documents-s{seed}-d{n_docs}", build)


# ---------------------------------------------------------------- catalog tables

def gen_catalog(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """The ten engine tables (TPC-H-ish star + events, documents,
    embeddings) with the column set and value distributions of the
    engine's test data; ``scale`` 1.0 gives the sf0.1 row counts."""
    rng = np.random.default_rng([seed, 0xCA7])
    n = {k: max(int(v * scale), 1) for k, v in dict(
        customer=15000, part=20000, supplier=1000, orders=150000,
        lineitem=600000, events=100000, users=1500, documents=5000,
        embeddings=2000).items()}
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01", "us")
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]),
    })
    adj = ["large", "small", "hot", "blue", "red", "green", "cold", "old"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
    part = pd.DataFrame({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
        "o_orderdate": d0 + rng.integers(0, 2405, n["orders"]) * day,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
    })
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n["lineitem"]), 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": d0 + rng.integers(0, 2499, n["lineitem"]) * day,
    })
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n["events"]))
    events = pd.DataFrame({
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], n["events"]).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n["events"]),
        "value": np.round(rng.exponential(50, n["events"]), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    emb = rng.normal(0, 1, (n["embeddings"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "part": part,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": gen_documents(seed, n["documents"]),
        "embeddings": embeddings,
    }


def catalog(cache: Path, seed: int, scale: float) -> Path:
    """One file and one row group per table, as the engine's test data."""

    def build(tmp: Path) -> dict:
        sums = {}
        rows = 0
        for name, df in gen_catalog(seed, scale).items():
            _write_one_group(df, tmp / f"{name}.parquet")
            sums[name] = content_checksum(df)
            rows += len(df)
        digest = hashlib.sha256(json.dumps(sums, sort_keys=True).encode()).hexdigest()[:16]
        return {"rows": rows, "checksum": digest, "tables": sums}

    return _cached(cache, f"catalog-s{seed}-x{scale:g}", build)
