"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is produced here from the
workload seed alone: the same seed gives byte-identical tweet bodies and
documents. Only the ``createdAt`` stamp of a live tweet depends on the
clock, because a live tweet is stamped when it is due to be created.

Tweets are JSON lines in the reference's record shape
(``{"text", "createdAt", "lang"}``, createdAt in epoch ms). Kinds:

- NORMAL: stamped with its creation time;
- BACKDATED: stamped up to 60 s before its creation (out-of-order, but
  well inside the 300 s watermark, so it is always counted);
- MALFORMED: a truncated JSON line the parser must drop;
- FAR_LATE: stamped behind an anchor the caller places far enough behind
  the watermark that every windowed query drops it, whichever
  micro-batch it lands in. Each far-late tweet gets its own event-time
  second, so no two of them share a 1 s window and the drop counters,
  which count rows after partial aggregation, count each one.

Hashtags follow a Zipf law over ``N_TAGS`` tags, 0-3 per tweet.

Documents are word soup with planted duplicates: exact copies (case and
whitespace variants, equal after normalization) and near copies (~5% of
words substituted), each labelled with the doc it copies.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

NORMAL, BACKDATED, MALFORMED, FAR_LATE = 0, 1, 2, 3

N_TAGS = 5000
ZIPF_S = 1.1
LANGS = ("en", "es", "de", "fr", "pt", "ja")
LANG_P = (0.5, 0.15, 0.1, 0.1, 0.1, 0.05)
BACKDATED_SHARE = 0.05
MALFORMED_SHARE = 0.01
FAR_LATE_SHARE = 0.002
MAX_BACKDATE_MS = 60_000

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _pseudo_words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 3-9 letters."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(_LETTERS, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


@dataclass
class TweetBlock:
    """A run of generated tweets; line i is ``prefix[i] + str(ms) +
    suffix[i]``, or ``prefix[i]`` alone for a malformed line."""

    text: list[str]
    prefix: list[str]
    suffix: list[str]
    kind: np.ndarray
    shift_ms: np.ndarray
    # k for the k-th far-late tweet of the generator, -1 otherwise
    late_rank: np.ndarray

    def __len__(self) -> int:
        return len(self.prefix)

    def event_ms(self, created_ms: np.ndarray, late_anchor_ms: int) -> np.ndarray:
        """createdAt of every line: creation minus backdating; the k-th
        far-late tweet sits in second ``anchor - 2k`` (anchor in whole
        seconds), apart from every other far-late tweet."""
        late = late_anchor_ms - 2000 * self.late_rank + (self.late_rank * 389) % 1000
        return np.where(self.kind == FAR_LATE, late, created_ms - self.shift_ms)

    def render(self, created_ms: np.ndarray, late_anchor_ms: int = 0) -> bytes:
        stamped = self.event_ms(created_ms, late_anchor_ms).tolist()
        lines = [
            p if k == MALFORMED else f"{p}{ms}{s}"
            for p, s, k, ms in zip(self.prefix, self.suffix, self.kind.tolist(), stamped)
        ]
        return ("\n".join(lines) + "\n").encode()

    def valid(self) -> int:
        """Lines the parser keeps."""
        return int(np.count_nonzero(self.kind != MALFORMED))


class TweetGenerator:
    """Deterministic tweet bodies: one vocabulary and tag set per seed,
    then successive ``block`` calls continue the same random stream."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.words = np.array(_pseudo_words(self.rng, 2000), dtype=object)
        tags = _pseudo_words(self.rng, N_TAGS)
        self.tags = np.array([f"#{t}{i}" for i, t in enumerate(tags)], dtype=object)
        w = 1.0 / np.arange(1, N_TAGS + 1) ** ZIPF_S
        self.tag_p = w / w.sum()
        self.n_far_late = 0

    def block(self, n: int, far_late: bool = False) -> TweetBlock:
        rng = self.rng
        n_words = rng.integers(4, 14, size=n)
        n_tags = rng.integers(0, 4, size=n)
        words = self.words[rng.integers(0, len(self.words), size=int(n_words.sum()))]
        tags = self.tags[rng.choice(N_TAGS, size=int(n_tags.sum()), p=self.tag_p)]
        langs = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
        u = rng.random(n)
        kind = np.full(n, NORMAL, dtype=np.int8)
        kind[u < BACKDATED_SHARE + MALFORMED_SHARE] = BACKDATED
        kind[u < MALFORMED_SHARE] = MALFORMED
        if far_late:
            kind[(u >= 0.5) & (u < 0.5 + FAR_LATE_SHARE)] = FAR_LATE
        shift = np.zeros(n, dtype=np.int64)
        back = kind == BACKDATED
        shift[back] = rng.integers(1, MAX_BACKDATE_MS + 1, size=int(back.sum()))
        late = kind == FAR_LATE
        rank = np.full(n, -1, dtype=np.int64)
        rank[late] = self.n_far_late + np.arange(int(late.sum()))
        self.n_far_late += int(late.sum())
        pos = rng.random(int(n_tags.sum()))
        texts, prefix, suffix = [], [], []
        wi = ti = 0
        for i in range(n):
            toks = list(words[wi : wi + n_words[i]])
            wi += n_words[i]
            for _ in range(n_tags[i]):
                toks.insert(int(pos[ti] * (len(toks) + 1)), tags[ti])
                ti += 1
            texts.append(" ".join(toks))
            body = '{"text": "' + texts[-1] + '", "createdAt": '
            if kind[i] == MALFORMED:
                body = body[: max(12, len(body) // 2)]
            prefix.append(body)
            suffix.append(f', "lang": "{langs[i]}"}}')
        return TweetBlock(texts, prefix, suffix, kind, shift, rank)


@dataclass
class Documents:
    """Generated corpus plus its ground truth: ``kind`` is "orig",
    "exact" or "near"; ``dup_of`` the doc_id a planted copy copies
    (-1 for originals)."""

    doc_id: list[int]
    text: list[str]
    source: list[str]
    kind: list[str]
    dup_of: list[int]

    def to_arrow(self):
        import pyarrow as pa

        return pa.table(
            {
                "doc_id": pa.array(self.doc_id, pa.int64()),
                "text": self.text,
                "lang": ["en"] * len(self.text),
                "source": self.source,
                "n_chars": pa.array([len(t) for t in self.text], pa.int64()),
            }
        )

    def truth_arrow(self):
        import pyarrow as pa

        return pa.table(
            {
                "doc_id": pa.array(self.doc_id, pa.int64()),
                "kind": self.kind,
                "dup_of": pa.array(self.dup_of, pa.int64()),
            }
        )


def documents(
    seed: int,
    n_docs: int,
    n_sources: int = 20,
    exact_share: float = 0.10,
    near_share: float = 0.20,
    edit_share: float = 0.05,
) -> Documents:
    """``n_docs`` documents in doc_id order; each copy copies an earlier
    original, so the original always holds the smaller doc_id (the one
    dedup keeps)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_pseudo_words(rng, 8000), dtype=object)
    out = Documents([], [], [], [], [])
    originals: list[list[str]] = []
    orig_ids: list[int] = []
    for doc_id in range(n_docs):
        u = rng.random() if originals else 1.0
        if u < exact_share:
            j = int(rng.integers(0, len(originals)))
            toks = originals[j]
            # cosmetic variants normalization must erase
            text = "  ".join(toks).upper() if rng.random() < 0.5 else " \t".join(toks)
            kind, dup_of = "exact", orig_ids[j]
        elif u < exact_share + near_share:
            j = int(rng.integers(0, len(originals)))
            toks = list(originals[j])
            n_edit = max(1, int(round(edit_share * len(toks))))
            for p in rng.choice(len(toks), size=n_edit, replace=False):
                toks[p] = vocab[int(rng.integers(0, len(vocab)))]
            text = " ".join(toks)
            kind, dup_of = "near", orig_ids[j]
        else:
            toks = list(vocab[rng.integers(0, len(vocab), size=int(rng.integers(40, 120)))])
            originals.append(toks)
            orig_ids.append(doc_id)
            text = " ".join(toks)
            kind, dup_of = "orig", -1
        out.doc_id.append(doc_id)
        out.text.append(text)
        out.source.append(f"src{int(rng.integers(0, n_sources))}")
        out.kind.append(kind)
        out.dup_of.append(dup_of)
    return out
