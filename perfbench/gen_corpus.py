"""Seeded WordCount corpora, built with numpy and cached on disk.

A corpus is a directory of ``part-NNN.txt`` files plus
``expected.tsv``: the exact ``word\\tcount`` lines the WordCount CLI
must write, sorted in UTF-8 byte order. Everything is derived from
``(seed, mb, n_files)``, which also names the cache directory, so a
second run with the same arguments reuses the files.

Tokens are drawn from a Zipf-weighted vocabulary that mixes in the
FIXTURES.md F1 edge cases: tokens with a tab inside, multi-byte UTF-8
tokens, upper-case variants and punctuation. Separators include runs of
spaces and leading/trailing spaces, so the tokenizer's empty-token
filter does real work.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

ZIPF_VOCAB = 120_000
ZIPF_S = 1.07
# Separators between two tokens: mostly one space, sometimes a run of
# spaces, a line break, or a line break with edge spaces around it.
_SEPS = [b" ", b"  ", b"   ", b"\n", b" \n", b"\n "]
_SEP_P = [0.86, 0.03, 0.01, 0.08, 0.01, 0.01]
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
_EDGE_STEMS = ["héllo", "世界", "naïve", "Ünïcödé", "日本語", "emoji🙂", "Punct,", "(yes)", "kept!"]


def _zipf_vocab(rng: np.random.Generator) -> list[bytes]:
    """Distinct tokens: mostly lowercase ASCII, with F1 edge forms mixed in."""
    lens = rng.integers(2, 11, size=ZIPF_VOCAB)
    chars = rng.choice(_ALPHABET, size=(ZIPF_VOCAB, 10))
    vocab: list[bytes] = []
    seen: set[bytes] = set()
    for i in range(ZIPF_VOCAB):
        tok = chars[i, : lens[i]].tobytes()
        r = i % 50
        if r == 7:  # tab inside a token: not a delimiter
            tok = tok[:1] + b"\t" + tok[1:]
        elif r == 19:  # multi-byte UTF-8
            tok = _EDGE_STEMS[i % len(_EDGE_STEMS)].encode() + tok
        elif r == 31:  # case variants stay distinct
            tok = tok.upper()
        if tok in seen:
            tok = tok + b"_" + str(i).encode()
        seen.add(tok)
        vocab.append(tok)
    return vocab


def _assemble(pieces: list[bytes], seq: np.ndarray) -> bytes:
    """Concatenate ``pieces[seq[0]] + pieces[seq[1]] + ...`` without a Python loop."""
    lens = np.fromiter((len(p) for p in pieces), dtype=np.int64, count=len(pieces))
    offs = np.zeros(len(pieces), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    buf = np.frombuffer(b"".join(pieces), dtype=np.uint8)
    seg_lens = lens[seq]
    total = int(seg_lens.sum())
    seg_out = np.zeros(len(seq), dtype=np.int64)
    np.cumsum(seg_lens[:-1], out=seg_out[1:])
    src = np.arange(total, dtype=np.int64)
    src += np.repeat(offs[seq] - seg_out, seg_lens)
    return buf[src].tobytes()


def _write_expected(path: str, words: list[bytes], counts: np.ndarray) -> None:
    order = sorted(range(len(words)), key=words.__getitem__)
    with open(path, "wb") as fh:
        fh.write(b"".join(words[i] + b"\t" + str(int(counts[i])).encode() + b"\n" for i in order))


def _generate(out_dir: str, seed: int, mb: float, n_files: int) -> None:
    rng = np.random.default_rng([seed, 1])
    vocab = _zipf_vocab(rng)
    weights = 1.0 / np.arange(1, ZIPF_VOCAB + 1) ** ZIPF_S
    p = weights / weights.sum()
    cdf = np.cumsum(p)
    # expected bytes per token plus separator, so every seed gives ~mb MiB
    tok_bytes = p @ np.array([len(v) for v in vocab], dtype=np.float64)
    sep_bytes = sum(len(sep) * q for sep, q in zip(_SEPS, _SEP_P))
    n_tok = int(mb * 2**20 / n_files / (tok_bytes + sep_bytes))
    pieces = vocab + _SEPS
    counts = np.zeros(ZIPF_VOCAB, dtype=np.int64)
    for f in range(n_files):
        seq = np.empty(2 * n_tok, dtype=np.int64)  # token, separator, token, ...
        seq[0::2] = np.searchsorted(cdf, rng.random(n_tok), side="right").clip(0, ZIPF_VOCAB - 1)
        seq[1::2] = ZIPF_VOCAB + rng.choice(len(_SEPS), size=n_tok, p=_SEP_P)
        seq[-1] = ZIPF_VOCAB + _SEPS.index(b"\n")  # every file ends with a newline
        counts += np.bincount(seq[0::2], minlength=ZIPF_VOCAB)
        with open(os.path.join(out_dir, f"part-{f:03d}.txt"), "wb") as fh:
            fh.write(_assemble(pieces, seq))
    used = np.nonzero(counts)[0]
    _write_expected(os.path.join(out_dir, "expected.tsv"), [vocab[i] for i in used], counts[used])


def corpus_dir(cache_root: str, seed: int, mb: float, n_files: int) -> str:
    """Return the directory of the cached corpus, generating it on a miss."""
    out = os.path.join(cache_root, f"zipf-s{seed}-{mb:g}mb-{n_files}f")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate(tmp, seed, mb, n_files)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
