"""Deterministic synthetic fixtures (FIXTURES.md A/B/C) — seed-driven, no wall clock.

Three generators, all pure numpy/pandas (no Spark dependency so they can
run anywhere, incl. inside the bench harness):

  A. ``gen_pages``  — Common-Crawl-style pages table
     (url, warc_ts, html, text, lang) per BASELINE.json input_hint, with
     a Zipf-hot host (skew fixture T11), exact-duplicate rows (T8),
     out-of-order + late arrivals (T7), and per-host per-bucket feature
     dynamics driven by a latent VAR with planted lagged edges.
  B. ``gen_series`` — DREAM4-style time series (5 replicates x 21
     buckets x G features) with a planted lagged regulatory network,
     mirroring the reference's data/dream4/insilico_size10_* corpus
     shape [ref: data/dream4/ ~L?] (reconstructed; mount empty).
  C. ``gen_gold``   — gold-standard edge list (parent, child, label).

Determinism: every random draw flows from ``numpy.random.default_rng``
seeded from the arguments; same args => byte-identical tables.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from swingstream.extract import render

ORIGIN = pd.Timestamp("2026-01-01T00:00:00")  # naive UTC (session TZ pinned UTC)

_LANGS = ["en", "de", "fr", "es", "zz"]
_VOCAB = {
    "en": ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
           "crawl", "web", "page", "index", "search", "stream", "window"],
    "de": ["der", "schnelle", "braune", "fuchs", "springt", "ueber", "den",
           "faulen", "hund", "netz", "seite", "fenster", "strom"],
    "fr": ["le", "renard", "brun", "rapide", "saute", "par", "dessus", "chien",
           "paresseux", "toile", "page", "fenetre", "flux"],
    "es": ["el", "zorro", "marron", "rapido", "salta", "sobre", "perro",
           "perezoso", "red", "pagina", "ventana", "flujo"],
    "zz": ["zyx", "wvu", "tsr", "qpo", "nml", "kji", "hgf", "edc", "baz",
           "qux", "zork", "gnab"],
}


# ----------------------------------------------------------------------------
# Planted lagged network (shared by fixtures A and B)
# ----------------------------------------------------------------------------

@dataclass(frozen=True)
class PlantedNetwork:
    n_features: int
    edges: tuple[tuple[int, int, int, float], ...]  # (parent, child, lag, weight)

    def gold_edges(self, names: list[str]) -> pd.DataFrame:
        """All ordered non-self pairs labeled 1 iff a planted edge exists."""
        true_pairs = {(p, c) for p, c, _, _ in self.edges}
        rows = [
            {"parent": names[i], "child": names[j], "label": int((i, j) in true_pairs)}
            for i in range(self.n_features)
            for j in range(self.n_features)
            if i != j
        ]
        return pd.DataFrame(rows)


def plant_network(
    n_features: int = 10,
    n_edges: int = 12,
    min_lag: int = 1,
    max_lag: int = 3,
    seed: int = 42,
    n_roots: int = 3,
    max_in_degree: int = 2,
) -> PlantedNetwork:
    """Root->child planted network: parents are the exogenous AR roots
    (0..n_roots-1), children are pure lagged linear responses — the
    cleanest DREAM4-style fixture for testing lag semantics (no indirect
    chain correlations; the t5 AUROC floor is a sharp regression guard)."""
    rng = np.random.default_rng(seed)
    indeg: dict[int, int] = {}
    pairs: set[tuple[int, int]] = set()
    edges: list[tuple[int, int, int, float]] = []
    tries = 0
    while len(edges) < n_edges and tries < 100_000:
        tries += 1
        p = int(rng.integers(0, n_roots))
        c = int(rng.integers(n_roots, n_features))
        if (p, c) in pairs or indeg.get(c, 0) >= max_in_degree:
            continue
        pairs.add((p, c))
        indeg[c] = indeg.get(c, 0) + 1
        k = int(rng.integers(min_lag, max_lag + 1))
        w = float(rng.uniform(0.7, 1.2)) * (1 if rng.random() < 0.8 else -1)
        edges.append((p, c, k, w))
    return PlantedNetwork(n_features, tuple(edges))


def _simulate(
    net: PlantedNetwork, n_steps: int, rng: np.random.Generator, noise: float
) -> np.ndarray:
    """Simulate the lagged linear system; returns (n_steps, G)."""
    G = net.n_features
    max_lag = max((k for _, _, k, _ in net.edges), default=1)
    x = np.zeros((n_steps + max_lag, G))
    x[:max_lag] = rng.normal(0, 1, size=(max_lag, G))
    children = {c for _, c, _, _ in net.edges}
    for t in range(max_lag, n_steps + max_lag):
        drive = np.zeros(G)
        for p, c, k, w in net.edges:
            drive[c] += w * x[t - k, p]
        for g in range(G):
            if g in children:
                x[t, g] = drive[g] + noise * rng.normal()
            else:
                # exogenous root: slow mean-reverting random walk
                x[t, g] = 0.55 * x[t - 1, g] + rng.normal()
    out = x[max_lag:]
    sd = out.std(axis=0)
    return out / np.where(sd > 0, sd, 1.0)


# ----------------------------------------------------------------------------
# Fixture B: DREAM4-style series
# ----------------------------------------------------------------------------

def gen_series(
    n_features: int = 10,
    n_buckets: int = 21,
    n_replicates: int = 5,
    delta_seconds: int = 60,
    noise: float = 0.25,
    seed: int = 42,
    net: PlantedNetwork | None = None,
) -> tuple[pd.DataFrame, PlantedNetwork]:
    """Wide DREAM4-style frame: (series_key, bucket_idx, ts, g1..gG)."""
    net = net or plant_network(n_features, seed=seed)
    frames = []
    for r in range(n_replicates):
        rng = np.random.default_rng(seed * 1_000_003 + r)
        sim = _simulate(net, n_buckets, rng, noise)
        df = pd.DataFrame(sim, columns=[f"g{i + 1}" for i in range(n_features)])
        df.insert(0, "series_key", f"rep{r}")
        df.insert(1, "bucket_idx", np.arange(n_buckets, dtype=np.int64))
        df.insert(
            2, "ts",
            ORIGIN + pd.to_timedelta(np.arange(n_buckets) * delta_seconds, unit="s"),
        )
        frames.append(df)
    return pd.concat(frames, ignore_index=True), net


# ----------------------------------------------------------------------------
# Fixture A: pages stream table
# ----------------------------------------------------------------------------

@dataclass(frozen=True)
class PagesSpec:
    n_hosts: int = 8
    n_buckets: int = 60
    delta_seconds: int = 60
    base_docs_per_bucket: int = 6
    hot_factor: int = 8          # hot host emits 8x docs (skew fixture)
    dup_frac: float = 0.02       # exact-duplicate rows for dedup tests
    late_frac: float = 0.02      # rows arriving far out of order (late)
    content_dup_frac: float = 0.0  # same text re-published at a NEW url
    # (same host + Δ-bucket) — the in-stream content-dedup fixture; 0.0
    # keeps round-1/2 goldens byte-identical
    seed: int = 42
    net: PlantedNetwork = field(default_factory=lambda: plant_network(10, seed=42))

    @property
    def hosts(self) -> list[str]:
        return ["hot.example.com"] + [
            f"site{i:02d}.example.org" for i in range(1, self.n_hosts)
        ]


def _make_texts_vectorized(
    rng: np.random.Generator,
    lang_rows: np.ndarray,
    n_words: np.ndarray,
    digit_p: np.ndarray,
) -> list[str]:
    """Batch text synthesis: per row, ``n_words`` words drawn from the
    row's language vocabulary, each replaced by a random integer with
    probability ``digit_p`` — one numpy draw per column, not one Python
    call per word (the generator is the bench-fixture bottleneck
    otherwise).  ``lang_rows`` indexes into _LANGS."""
    n = len(lang_rows)
    max_w = int(n_words.max())
    # word table: one row per lang, vocab cycled to a common width
    vmax = max(len(v) for v in _VOCAB.values())
    table = np.empty((len(_LANGS), vmax), dtype=object)
    for li, lg in enumerate(_LANGS):
        v = _VOCAB[lg]
        table[li] = (v * ((vmax // len(v)) + 1))[:vmax]
    word_idx = rng.integers(0, vmax, size=(n, max_w))
    words = table[np.asarray(lang_rows)[:, None], word_idx]  # (n, max_w)
    digit_mask = rng.random(size=(n, max_w)) < np.asarray(digit_p)[:, None]
    digit_vals = rng.integers(0, 10_000, size=(n, max_w))
    words = np.where(digit_mask, digit_vals.astype(str).astype(object), words)
    nw = np.asarray(n_words)
    return [" ".join(words[i, : nw[i]]) for i in range(n)]


def gen_pages(spec: PagesSpec = PagesSpec()) -> pd.DataFrame:
    """Pages table in ARRIVAL order: (url, warc_ts, html, text, lang).

    Per-host latent VAR over G=10 dims drives doc volume, length, lang
    mix, digit ratio, and url re-crawl rate, planting lagged
    feature-to-feature structure for the inference pipeline to find.
    Arrival order is a deterministic shuffle of event order, with
    ``late_frac`` rows pushed to arrive long after their event time.
    """
    c_url: list[str] = []
    c_ts: list[np.ndarray] = []
    c_html: list[bytes] = []
    c_text: list[str] = []
    c_lang: list[str] = []
    origin_us = np.datetime64(ORIGIN, "us")
    lang_names = np.asarray(_LANGS, dtype=object)
    for h_i, host in enumerate(spec.hosts):
        rng = np.random.default_rng(spec.seed * 7_919 + h_i)
        sig = _simulate(spec.net, spec.n_buckets, rng, noise=0.25)
        rate = spec.base_docs_per_bucket * (spec.hot_factor if h_i == 0 else 1)
        for t in range(spec.n_buckets):
            s = sig[t]
            n_docs = max(1, int(round(rate * float(np.exp(0.25 * np.tanh(s[0]))))))
            lang_logits = s[2:7]
            lang_p = np.exp(lang_logits - lang_logits.max())
            lang_p = lang_p / lang_p.sum()
            mean_words = 14 + 7 * np.tanh(s[1])
            digit_p = 0.10 + 0.08 * np.tanh(s[8])
            recrawl_p = 0.25 + 0.2 * np.tanh(s[9])
            lang_rows = rng.choice(5, size=n_docs, p=lang_p)
            n_words_arr = np.maximum(
                2, np.round(rng.normal(mean_words, 2.0, size=n_docs)).astype(int)
            )
            texts = _make_texts_vectorized(
                rng, lang_rows, n_words_arr, np.full(n_docs, digit_p)
            )
            recrawl = rng.random(n_docs) < recrawl_p
            targets = rng.integers(0, np.maximum(np.arange(n_docs), 1))
            offsets_us = (
                rng.uniform(0, spec.delta_seconds, size=n_docs) * 1e6
            ).astype("timedelta64[us]")
            doc_ids = np.where(recrawl & (np.arange(n_docs) > 0),
                               targets, np.arange(n_docs))
            prefix = f"https://{host}/p{t}_"
            c_url.extend(prefix + str(d) for d in doc_ids)
            c_ts.append(
                origin_us
                + np.timedelta64(t * spec.delta_seconds, "s")
                + offsets_us
            )
            c_html.extend(render(x) for x in texts)
            c_text.extend(texts)
            c_lang.extend(lang_names[lang_rows])
    df = pd.DataFrame(
        {
            "url": c_url,
            "warc_ts": np.concatenate(c_ts),
            "html": c_html,
            "text": c_text,
            "lang": c_lang,
        }
    )
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    rng = np.random.default_rng(spec.seed + 1)
    # exact duplicates (same url + ts + content) — dedup fixture
    n_dup = int(len(df) * spec.dup_frac)
    dup_idx = rng.choice(len(df), size=n_dup, replace=False)
    df = pd.concat([df, df.iloc[dup_idx]], ignore_index=True)
    # content duplicates: identical (text, lang, html) republished at a
    # DIFFERENT url on the same host, event time re-jittered within the
    # SAME Δ-bucket — invisible to (url, warc_ts) transport dedup, the
    # target of in-stream content dedup (params.dedup_content)
    n_cdup = int(len(df) * spec.content_dup_frac)
    if n_cdup:
        src = df.iloc[rng.choice(len(df), size=n_cdup, replace=False)].copy()
        src["url"] = [
            f"https://{u.split('/')[2]}/cdup{i}" for i, u in enumerate(src["url"])
        ]
        bucket = src["warc_ts"].map(pd.Timestamp.timestamp) // spec.delta_seconds
        src["warc_ts"] = pd.to_datetime(
            (bucket * spec.delta_seconds * 1e6
             + rng.uniform(0, spec.delta_seconds * 1e6, size=n_cdup)).astype("int64"),
            unit="us",
        ).astype("datetime64[us]")
        df = pd.concat([df, src], ignore_index=True)
    # arrival order: mostly event order with local jitter; late_frac rows
    # deferred to the end of the arrival sequence (=> late beyond watermark)
    ts_ns = df["warc_ts"].to_numpy()
    order = np.empty(len(df), dtype=np.float64)
    order[np.argsort(ts_ns, kind="stable")] = np.arange(len(df))  # event-time rank
    order += rng.uniform(-3.0, 3.0, size=len(df))  # local out-of-orderness
    late_idx = rng.choice(len(df), size=int(len(df) * spec.late_frac), replace=False)
    order[late_idx] += len(df) * 0.5  # arrive ~half a stream later
    df = df.iloc[np.argsort(order, kind="stable")].reset_index(drop=True)
    df.index.name = "arrival_idx"
    return df.reset_index()


# ----------------------------------------------------------------------------
# Fixture D: realistic web-text document corpus (Zipf vocabulary)
# ----------------------------------------------------------------------------

def gen_documents(
    n_docs: int = 5000,
    vocab_size: int = 20_000,
    mean_words: int = 80,
    neardup_frac: float = 0.02,
    dup_frac: float = 0.005,
    zipf_s: float = 1.05,
    seed: int = 11,
) -> pd.DataFrame:
    """Realistic-statistics document table (doc_id, text, lang, source,
    n_chars) for the dedup/similarity benchmarks.

    The driver's synthetic documents table draws from a ~15-word
    vocabulary, which makes EVERY document a near-duplicate of every
    other — LSH banding degenerates to O(n²) candidates and benches the
    fixture, not the operator.  This generator draws from a
    ``vocab_size``-word Zipf(s) vocabulary (real web text is Zipfian),
    so unrelated documents share only stop-band words and banding
    actually prunes; a controlled ``neardup_frac`` of documents are
    copies with ~8% of tokens resampled (jaccard ≈ 0.85), plus
    ``dup_frac`` byte-exact copies for the digest path.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:05x}" for i in range(vocab_size)], dtype=object)
    p = 1.0 / np.power(np.arange(1, vocab_size + 1), zipf_s)
    p /= p.sum()
    n_base = n_docs - int(n_docs * neardup_frac) - int(n_docs * dup_frac)
    lens = np.maximum(8, rng.normal(mean_words, mean_words / 3, n_base).astype(int))
    flat = rng.choice(vocab_size, size=int(lens.sum()), p=p)
    texts: list[str] = []
    pos = 0
    for ln in lens:
        texts.append(" ".join(vocab[flat[pos : pos + ln]]))
        pos += ln
    # planted near-dups: copy a base doc, resample ~8% of its tokens
    for src in rng.choice(n_base, size=int(n_docs * neardup_frac), replace=False):
        toks = np.array(texts[src].split(), dtype=object)
        n_mut = max(1, int(len(toks) * 0.08))
        idx = rng.choice(len(toks), size=n_mut, replace=False)
        toks[idx] = vocab[rng.choice(vocab_size, size=n_mut, p=p)]
        texts.append(" ".join(toks))
    # byte-exact duplicates
    for src in rng.choice(n_base, size=int(n_docs * dup_frac), replace=False):
        texts.append(texts[src])
    langs = np.asarray(_LANGS, dtype=object)[rng.integers(0, 5, size=len(texts))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": np.asarray(["web", "news", "forum", "wiki"], dtype=object)[
                rng.integers(0, 4, size=len(texts))
            ],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_pages_stream_dir(
    df: pd.DataFrame, out_dir: str, n_files: int = 8
) -> list[str]:
    """Split arrival-ordered pages into N parquet files for file-stream replay.

    File mtimes are set strictly increasing in arrival order: Spark's
    FileStreamSource orders new files by modification time, and files
    written within the same timestamp granule would replay in arbitrary
    order (nondeterministic watermark trajectory).
    """
    import os
    import pathlib
    import time

    out = pathlib.Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    paths = []
    t0 = time.time() - 2.0 * n_files
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), n_files)):
        p = out / f"part-{i:04d}.parquet"
        df.iloc[chunk].drop(columns=["arrival_idx"]).to_parquet(p, index=False)
        os.utime(p, (t0 + 2.0 * i, t0 + 2.0 * i))
        paths.append(str(p))
    return paths
