"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and parameters: the same seed
gives the same graph, corpus and request stream, and the engine receives only
what these functions return.

- ``make_graph``: a node table in the engine's node schema. Tags are drawn
  Zipf-skewed from a tag bank, so a few tags are carried by many nodes (tag
  lookups and the Jaccard self-join see real candidate blow-up). Embeddings
  are random unit vectors except for planted chains: consecutive chain
  members have cosine ``CHAIN_COS`` and members two apart fall below the
  cluster threshold, so each chain is one component whose diameter makes
  connected components run several rounds. Chain members are also linked
  to their neighbours in ``linked_nodes`` and share one chain tag.
- ``make_corpus``: a documents table shaped like the engine's test corpus
  (``doc_id, text, lang, source, n_chars``; the same language mix and
  document lengths) over a seeded pseudo-word vocabulary, with planted
  low-quality documents, exact duplicates, near duplicates (one character
  changed) and train/test leaks (a 12-word span copied from another
  document), so every pipeline stage removes rows.
- ``RequestStream``: a closed-loop client's operation decks and
  Zipf-ranked keys.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd

DIM = 64
CHAIN_COS = 0.95        # cosine of consecutive chain members
CLUSTER_THRESHOLD = 0.9  # between CHAIN_COS and cos(2*acos(CHAIN_COS)) = 0.805
SUBJECTS = [f"subject-{i:02d}" for i in range(12)]
AUTHORS = [f"author-{i:02d}" for i in range(40)]
COURSES = list(range(1, 7))
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
LANG_MIX = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _pseudo_words(rng: np.random.Generator, n: int, lo: int = 3,
                  hi: int = 9) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(rng.choice(letters, k))
        if w not in STOPWORDS:
            out.add(w)
    return sorted(out)


# ---------------------------------------------------------------------------
# node graph
# ---------------------------------------------------------------------------

def make_graph(seed: int, n_nodes: int, tag_zipf: float, n_tags: int = 500,
               n_chains: int = 40, chain_len: int = 8) -> dict:
    """Node rows (ids 1..n_nodes) plus what was planted in them.

    Returns {"nodes": DataFrame in node-schema column order, "chains": list of
    id lists, "tags": tag bank list, "params": generator parameters}."""
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(1, n_nodes + 1, dtype=np.int64)
    tag_names = [f"tag-{i:04d}" for i in range(n_tags)]
    tag_p = zipf_probs(n_tags, tag_zipf)
    words = _pseudo_words(rng, 400)

    emb = rng.standard_normal((n_nodes, DIM)).astype(np.float64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    step = math.acos(CHAIN_COS)
    chain_ids = rng.choice(ids, size=n_chains * chain_len, replace=False)
    chains = [sorted(int(x) for x in chain_ids[c * chain_len:(c + 1) * chain_len])
              for c in range(n_chains)]
    links: dict[int, list[int]] = {}
    chain_of: dict[int, int] = {}
    for c, members in enumerate(chains):
        q, _ = np.linalg.qr(rng.standard_normal((DIM, 2)))
        u, w = q[:, 0], q[:, 1]
        order = rng.permutation(members)  # chain order differs from id order
        for pos, nid in enumerate(order):
            emb[nid - 1] = math.cos(pos * step) * u + math.sin(pos * step) * w
            chain_of[int(nid)] = c
            nb = [int(order[j]) for j in (pos - 1, pos + 1) if 0 <= j < chain_len]
            links[int(nid)] = sorted(nb)

    n_node_tags = rng.integers(1, 5, n_nodes)
    tags = []
    for i in range(n_nodes):
        t = list(rng.choice(n_tags, size=n_node_tags[i], replace=False, p=tag_p))
        names = [tag_names[j] for j in sorted(t)]
        if int(ids[i]) in chain_of:
            names.append(f"chain-{chain_of[int(ids[i])]:03d}")
        tags.append(names)

    title_words = rng.choice(words, size=(n_nodes, 2))
    days = rng.integers(0, 730, n_nodes)
    secs = rng.integers(0, 86400, n_nodes)
    base = np.datetime64("2023-01-01T00:00:00")
    dates = [str(base + np.timedelta64(int(d), "D") + np.timedelta64(int(s), "s"))
             .replace("T", " ") for d, s in zip(days, secs)]
    nodes = pd.DataFrame({
        "id": ids,
        "title": [f"{a} {b} {i}" for (a, b), i in zip(title_words, ids)],
        "author": rng.choice(AUTHORS, n_nodes),
        "subject": rng.choice(SUBJECTS, n_nodes),
        "course": rng.choice(COURSES, n_nodes).astype(np.int32),
        "description": [f"notes {a}" for a in rng.choice(words, n_nodes)],
        "date": dates,
        "tags": tags,
        "storage_path": [None] * n_nodes,
        "linked_nodes": [links.get(int(i), []) for i in ids],
        "embedding": list(emb.astype(np.float32)),
    })
    all_tags = sorted(set(tag_names) | {f"chain-{c:03d}" for c in range(n_chains)})
    return {"nodes": nodes, "chains": chains, "tags": all_tags,
            "params": {"n_nodes": n_nodes, "n_tags": n_tags,
                       "tag_zipf": tag_zipf, "dim": DIM,
                       "n_chains": n_chains, "chain_len": chain_len,
                       "chain_cos": CHAIN_COS}}


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text) if t]


def passes_quality(text: str) -> bool:
    """Reference of the pipeline's quality predicate (token floor, length
    window, stopword-ratio floor, word-3-gram repetition ceiling)."""
    toks = _tokens(text)
    if len(toks) < 10 or not 50 <= len(text) <= 5000:
        return False
    stop = sum(t.lower() in STOPWORDS for t in toks) / max(len(toks), 1)
    grams = [" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))]
    return stop >= 0.05 and 1.0 - len(set(grams)) / len(grams) <= 0.2


def make_corpus(seed: int, n_docs: int, n_low_quality: int, n_exact: int,
                n_near: int, n_leaks: int) -> dict:
    """Documents (doc_id 0..) and the ids of the planted near duplicates.

    Base documents all pass the quality predicate and differ enough that
    none is a near duplicate of another; planted rows are English, so each
    reaches the stage meant to remove it. Returns {"docs": DataFrame,
    "near_ids": [...], "params": ...}."""
    rng = np.random.default_rng([seed, 2])
    vocab = _pseudo_words(rng, 3000)
    word_p = 1.0 / (np.arange(len(vocab)) + 20.0)
    word_p /= word_p.sum()
    langs = [lg for lg, _ in LANG_MIX]
    lang_p = np.array([p for _, p in LANG_MIX])

    def sentence(n_tok: int) -> list[str]:
        toks = list(rng.choice(vocab, n_tok, p=word_p))
        for pos in rng.choice(n_tok, max(2, n_tok // 7), replace=False):
            toks[pos] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        return toks

    rows: list[tuple[str, str]] = []
    while len(rows) < n_docs:
        text = " ".join(sentence(int(rng.integers(30, 90))))
        if passes_quality(text):
            rows.append((text, str(rng.choice(langs, p=lang_p))))
    en_base = [i for i, (_, lg) in enumerate(rows) if lg == "en"]
    picks = rng.choice(en_base, n_exact + n_near + n_leaks, replace=False)
    exact_src = picks[:n_exact]
    near_src = picks[n_exact:n_exact + n_near]
    leak_victims = picks[n_exact + n_near:]

    for _ in range(n_low_quality):
        rows.append((" ".join(sentence(int(rng.integers(3, 8)))), "en"))
    for i in exact_src:
        rows.append((rows[i][0], "en"))
    for i in near_src:
        text = rows[i][0]
        pos = int(rng.integers(len(text) // 4, len(text)))
        while text[pos] == " ":
            pos -= 1
        repl = "z" if text[pos] != "z" else "q"
        rows.append((text[:pos] + repl + text[pos + 1:], "en"))
    for i in leak_victims:
        vt = _tokens(rows[i][0])
        start = int(rng.integers(0, len(vt) - 12))
        own = sentence(int(rng.integers(30, 60)))
        cut = int(rng.integers(0, len(own)))
        rows.append((" ".join(own[:cut] + vt[start:start + 12] + own[cut:]), "en"))

    n_base_lq = n_docs + n_low_quality + n_exact
    near_ids = list(range(n_base_lq, n_base_lq + n_near))
    texts = [t for t, _ in rows]
    docs = pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "text": texts,
        "lang": [lg for _, lg in rows],
        "source": [f"src{int(x)}" for x in rng.integers(0, 5, len(rows))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"docs": docs, "near_ids": near_ids,
            "params": {"n_docs": n_docs, "n_low_quality": n_low_quality,
                       "n_exact": n_exact, "n_near": n_near,
                       "n_leaks": n_leaks, "vocab": len(vocab)}}


def split_of(doc_id: int) -> str:
    """Reference of the pipeline's md5-prefix train/val/test assignment."""
    key = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
    return "train" if key < "cc" else "val" if key < "e6" else "test"


def expected_stages(docs: pd.DataFrame, near_ids: list[int], pack_budget: int = 256,
                    ngram: int = 8) -> list[tuple[str, int]]:
    """Stage survivor counts the pipeline must report for ``docs``.

    Quality, language, exact dedup, split, decontamination and packing are
    recomputed here; near-dedup removes exactly the planted ``near_ids``
    copies (base documents are too far apart to collide)."""
    stages = [("ingest", len(docs))]
    q = docs[[passes_quality(t) for t in docs["text"]]]
    stages.append(("quality_filter", len(q)))
    en = q[q["lang"] == "en"]
    stages.append(("language_filter", len(en)))
    exact = en.sort_values("doc_id").drop_duplicates("text")
    stages.append(("exact_dedup", len(exact)))
    near = exact[~exact["doc_id"].isin(near_ids)]
    stages.append(("near_dedup", len(near)))
    is_train = near["doc_id"].map(split_of) == "train"
    train = near[is_train]
    stages.append(("train_split", len(train)))

    def grams(text: str) -> set[str]:
        tk = _tokens(text)
        return {" ".join(tk[i:i + ngram]) for i in range(max(len(tk) - ngram + 1, 1))}

    held_out: set[str] = set()
    for t in near[~is_train]["text"]:
        held_out |= grams(t)
    clean = train[[not (grams(t) & held_out) for t in train["text"]]]
    stages.append(("decontaminated_train", len(clean)))
    n_tok = clean.sort_values("doc_id")["text"].map(lambda t: len(_tokens(t)))
    before = np.concatenate([[0], np.cumsum(n_tok.to_numpy())[:-1]])
    stages.append(("packed_bins", len(set((before // pack_budget).tolist()))))
    return stages


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------

# One deck per client turn: the read mix in fixed proportions, plus writes
# taken in turn from a seeded order of the write types. Decks keep the op
# mix of a short run exact, so runs on different seeds do the same work.
# The shares and the key skew are assumptions: no request log of the engine
# or of the reference server exists. The gated metrics are per-class
# medians, so the shares set how many samples each class gets, not how the
# classes are weighed against each other.
READ_DECK = (("get_node", 3), ("list_nodes", 3), ("count_nodes", 2),
             ("tag_nodes", 1), ("similar_nodes", 1))
WRITE_OPS = ("create_node", "update_node", "delete_node", "add_files_to_node")
KEY_ZIPF = 1.1


class RequestStream:
    """One client's seeded request stream: shuffled decks of operations and
    Zipf-ranked key picks. Ranks index a caller-supplied key order, so the
    stream stays valid while writes change which keys exist."""

    def __init__(self, seed: int, client: int, writes_per_deck: int = 0):
        self.rng = np.random.default_rng([seed, 3, client])
        self.writes_per_deck = writes_per_deck
        self._writes = [WRITE_OPS[i] for i in self.rng.permutation(len(WRITE_OPS))]
        self._next_write = 0

    def deck(self) -> list[str]:
        ops = [op for op, n in READ_DECK for _ in range(n)]
        for _ in range(self.writes_per_deck):
            ops.append(self._writes[self._next_write % len(self._writes)])
            self._next_write += 1
        return [ops[i] for i in self.rng.permutation(len(ops))]

    def rank(self, n: int) -> int:
        """Zipf-skewed rank in [0, n)."""
        while True:
            r = int(self.rng.zipf(KEY_ZIPF)) - 1
            if r < n:
                return r

    def uniform(self, n: int) -> int:
        return int(self.rng.integers(n))

    def choice(self, seq):
        return seq[int(self.rng.integers(len(seq)))]
