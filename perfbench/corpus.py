"""Seeded synthetic text corpus for the ``wordcount_corpus`` workload.

The corpus is built from word ids, so the generator knows the exact
answer: the count of every word is a ``bincount`` of the ids it drew.

- Vocabulary: ``vocab`` distinct lowercase words of Unicode letters,
  with a few accented letters (``è``, ``ò`` ...).  Each word also has a
  capitalised variant (``He`` next to ``he``), which is a different key
  because the tokenizer is case-sensitive.
- Frequencies: Zipf with exponent ``ZIPF_S`` over the vocabulary rank;
  ``CAP_SHARE`` of the drawn tokens use the capitalised variant.
- Separators: runs of non-letters only (spaces, punctuation,
  apostrophes, digits, newlines and empty lines).  ``'`` between two
  words gives ``don't``-style text, ``" 2"`` before a word gives
  ``2nd``-style text; neither changes the token boundaries, so the
  drawn words are exactly the tokens of the text.
"""

from __future__ import annotations

import os

import numpy as np

LETTERS = "abcdefghijklmnopqrstuvwxyz"
ACCENTED = "àèéìòùçñ"
ZIPF_S = 1.07
#: share of drawn tokens that use the capitalised variant
CAP_SHARE = 0.10
#: tokens rendered per numpy batch (bounds the generator's memory)
CHUNK_TOKENS = 500_000

#: (separator, weight): every separator is non-empty and has no letter
SEPARATORS = (
    (" ", 640),
    (", ", 90),
    (". ", 60),
    ("'", 30),
    (" 2", 20),
    (" 42 ", 10),
    ("-", 20),
    ("; ", 20),
    ("?! ", 10),
    (" (", 10),
    (") ", 10),
    ("\n", 70),
    ("\n\n", 10),
)


def make_vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase letter-only words, in rank order."""
    alphabet = np.array(list(LETTERS + ACCENTED))
    weights = np.array([1.0] * len(LETTERS) + [0.1] * len(ACCENTED))
    weights /= weights.sum()
    words: dict[str, None] = {}
    while len(words) < n:
        lengths = rng.integers(2, 11, size=2 * (n - len(words)) + 16)
        ends = np.cumsum(lengths).tolist()
        # a '<U1' array is UTF-32 code points: decode it as one string
        text = alphabet[rng.choice(len(alphabet), size=ends[-1], p=weights)].tobytes().decode("utf-32-le")
        starts = [0] + ends[:-1]
        for w in (text[a:b] for a, b in zip(starts, ends)):
            words.setdefault(w)
            if len(words) == n:
                break
    return list(words)


def _bytes_table(strings: list[str]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenated UTF-8 bytes of ``strings`` with offsets and lengths."""
    encoded = [s.encode("utf-8") for s in strings]
    lengths = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=len(encoded))
    offsets = np.zeros(len(encoded), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    buf = np.frombuffer(b"".join(encoded), dtype=np.uint8)
    return buf, offsets, lengths


def _render(buf, offsets, lengths, ids: np.ndarray) -> bytes:
    """Bytes of the strings ``ids`` index, concatenated in order."""
    ln = lengths[ids]
    starts = np.zeros(len(ids), dtype=np.int64)
    np.cumsum(ln[:-1], out=starts[1:])
    src = np.repeat(offsets[ids] - starts, ln) + np.arange(int(ln.sum()), dtype=np.int64)
    return buf[src].tobytes()


def generate(
    out_dir: str,
    seed: int,
    n_files: int,
    total_bytes: int,
    vocab: int = 200_000,
    base: list[str] | None = None,
) -> tuple[list[str], dict[str, int]]:
    """Write ``n_files`` text files of about ``total_bytes`` in all.

    ``base`` replaces the drawn vocabulary (lowercase letter-only words
    in rank order).  Returns the file paths and the exact
    ``{word: count}`` of the corpus.
    """
    rng = np.random.default_rng(seed)
    if base is None:
        base = make_vocab(rng, vocab)
    vocab = len(base)
    words = base + [w[0].upper() + w[1:] for w in base]
    wbuf, woff, wlen = _bytes_table(words)
    seps = [s for s, _ in SEPARATORS]
    sweight = np.array([w for _, w in SEPARATORS], dtype=np.float64)
    sweight /= sweight.sum()
    sbuf, soff, slen = _bytes_table(seps)

    rank_p = np.arange(1, vocab + 1, dtype=np.float64) ** -ZIPF_S
    rank_p /= rank_p.sum()
    mean_word = float((rank_p * wlen[:vocab]).sum())
    mean_sep = float((sweight * slen).sum())
    n_tokens = max(n_files, int(total_bytes / (mean_word + mean_sep)))

    # interleave word pieces and separator pieces in one table
    buf = np.concatenate([wbuf, sbuf])
    offsets = np.concatenate([woff, soff + len(wbuf)])
    lengths = np.concatenate([wlen, slen])
    newline = len(words) + seps.index("\n")

    counts = np.zeros(len(words), dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per_file = np.full(n_files, n_tokens // n_files)
    per_file[: n_tokens % n_files] += 1
    for f, n_f in enumerate(per_file):
        path = os.path.join(out_dir, f"part-{f:04d}.txt")
        with open(path, "wb") as fh:
            left = int(n_f)
            while left:
                n = min(CHUNK_TOKENS, left)
                left -= n
                ids = rng.choice(vocab, size=n, p=rank_p)
                ids[rng.random(n) < CAP_SHARE] += vocab
                sep_ids = rng.choice(len(seps), size=n, p=sweight) + len(words)
                if not left:
                    sep_ids[-1] = newline
                counts += np.bincount(ids, minlength=len(words))
                pieces = np.empty(2 * n, dtype=np.int64)
                pieces[0::2] = ids
                pieces[1::2] = sep_ids
                fh.write(_render(buf, offsets, lengths, pieces))
        paths.append(path)
    nz = np.flatnonzero(counts)
    return paths, {words[i]: int(counts[i]) for i in nz}


def expected_lines(counts: dict[str, int]) -> list[str]:
    """The sink's ``word->count`` lines, ordered ``count DESC, word ASC``."""
    return [f"{w}->{c}" for w, c in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]
