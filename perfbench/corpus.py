"""Seeded text corpus for the `invindex_files` workload, and its golden.

The corpus reproduces the shape of the reference corpus (FIXTURES.md F5):
355 files, a Zipf(1) token law over ~33 k distinct words, and the
reference's first-letter skew (s, c, p, b, d heavy; z rare). Surface
forms carry the F2 corner cases so that normalization is exercised on
every pass: `Don't`, `look-out`, `foo123`, `1842`, `XIII`, single
letters, multibyte UTF-8, leading whitespace and tab runs.

`golden` is a pure-Python evaluation of the SURVEY.md section 0 SQL
contract; it renders the 26 `<letter>.txt` files byte for byte as the
sink writes them.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict
from pathlib import Path

import numpy as np

ALPHABET = "abcdefghijklmnopqrstuvwxyz"

# Distinct words per first letter. The five heaviest and z are the
# reference counts (F5); the rest follow English first-letter order and
# keep the total at the reference's ~33 k.
LETTER_WORDS = {
    "s": 3985, "c": 2873, "p": 2240, "b": 2009, "d": 1934, "m": 1900,
    "a": 1880, "t": 1850, "r": 1800, "f": 1700, "h": 1500, "g": 1300,
    "e": 1250, "l": 1250, "w": 1100, "i": 950, "o": 800, "n": 750,
    "u": 550, "v": 500, "k": 400, "j": 300, "y": 180, "q": 150,
    "x": 60, "z": 33,
}

# F2 corner tokens, drawn at CORNER_RATE per token: apostrophes, hyphens,
# digits (alone they vanish), roman numerals, single letters, multibyte
# UTF-8 (stripped, not transliterated) and tokens with no letter at all.
CORNER_TOKENS = (
    "Don't", "look-out", "foo123", "1842", "XIII", "a", "x", "I",
    "naïve", "café", "--", "—", "e-mail", "O'Brien", "3rd", "A.",
)
CORNER_RATE = 0.01
FILES = 355
TOKENS_PER_FILE = 2920  # x 355 files = ~1.04 M tokens, the reference size
PUNCT = (",", ".", ";", ":", "!", "?", '"', ")")

# Everything but letters and Java's \s (the whitespace Spark's split uses).
_STRIP = re.compile(r"[^A-Za-z \t\n\x0b\f\r]")


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """Distinct lowercase words, LETTER_WORDS[c] of them starting with c."""
    letters = np.array(list(ALPHABET))
    vocab: list[str] = []
    for first, count in LETTER_WORDS.items():
        words: dict[str, None] = {}
        while len(words) < count:
            lengths = rng.integers(1, 11, 2 * count)
            chars = "".join(letters[rng.integers(0, 26, int(lengths.sum()))])
            ends = np.cumsum(lengths)
            for start, end in zip((ends - lengths).tolist(), ends.tolist()):
                words.setdefault(first + chars[start:end])
        vocab += list(words)[:count]
    order = rng.permutation(len(vocab))  # frequency rank is letter-blind
    return [vocab[i] for i in order]


def generate(out_dir: str | os.PathLike, seed: int, scale: float = 1.0) -> list[tuple[int, str]]:
    """Write the corpus and its manifest (`manifest.txt`) under
    `out_dir`; return [(file_id, path)]. The same seed and scale give
    the same bytes."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / ranks)
    cdf /= cdf[-1]

    low = np.array(vocab, dtype=object)
    cap = np.array([w.capitalize() for w in vocab], dtype=object)
    upper = np.array([w.upper() for w in vocab], dtype=object)
    corners = np.array(CORNER_TOKENS, dtype=object)
    punct = np.array(PUNCT, dtype=object)

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    sizes = rng.lognormal(0.0, 0.6, FILES)
    sizes = np.maximum(1, (sizes / sizes.mean() * TOKENS_PER_FILE * scale)).astype(int)
    paths = []
    for fid, n in enumerate(sizes, start=1):
        ids = np.searchsorted(cdf, rng.random(n))
        style = rng.random(n)
        toks = np.where(style < 0.12, cap[ids], np.where(style < 0.14, upper[ids], low[ids]))
        trail = (style > 0.5) & (style < 0.58)
        toks[trail] = toks[trail] + punct[rng.integers(0, len(punct), int(trail.sum()))]
        corner = style < CORNER_RATE
        toks[corner] = corners[rng.integers(0, len(corners), int(corner.sum()))]
        lines, i = [], 0
        for k in rng.integers(4, 18, n):
            if i >= n:
                break
            sep = "\t" if k % 7 == 0 else " "
            lead = "  " if k == 5 else ""
            lines.append(lead + sep.join(toks[i : i + k]))
            i += k
        p = out / f"doc{fid:04d}.txt"
        p.write_text("\n".join(lines) + "\n", encoding="utf-8")
        paths.append(str(p.resolve()))
    manifest = out / "manifest.txt"
    manifest.write_text(f"{len(paths)}\n" + "\n".join(paths) + "\n", encoding="utf-8")
    return list(enumerate(paths, start=1))


def golden(files: list[tuple[int, str]]) -> dict[str, bytes]:
    """Expected `<letter>.txt` bytes for [(file_id, path)]: tokens split
    on whitespace runs, `lower(regexp_replace(token, '[^A-Za-z]', ''))`,
    empties dropped, distinct sorted file ids per word, rows ordered
    (df DESC, word ASC) within each first letter.

    Deleting every character that is neither a letter nor whitespace
    from the whole text leaves token boundaries in place, so it equals
    the per-token rule; what remains splits on ASCII whitespace only."""
    postings: dict[str, list[int]] = defaultdict(list)
    for fid, path in files:
        text = _STRIP.sub("", Path(path).read_text(encoding="utf-8")).lower()
        for w in set(text.split()):
            postings[w].append(fid)
    by_letter: dict[str, list[tuple[int, str, list[int]]]] = defaultdict(list)
    for w, ids in postings.items():
        by_letter[w[0]].append((-len(ids), w, sorted(ids)))
    out = {}
    for ch in ALPHABET:
        rows = sorted(by_letter.get(ch, ()))
        text = "".join(f"{w}:[{' '.join(map(str, ids))}]\n" for _, w, ids in rows)
        out[ch] = text.encode("utf-8")
    return out
