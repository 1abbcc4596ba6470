"""Seeded generator for the benchmark's transcript corpus and query streams.

Everything here is a pure function of ``seed`` (numpy PCG64), so the same seed
gives byte-identical inputs on every host.  Nothing imports Spark.

Corpus shape:

* word ranks are Zipf(s=1.07) over 2**20 ranks, and a rank maps one-to-one
  to a word string (bijective base-85 over consonant-vowel syllables), so the
  vocabulary grows with corpus size as Heaps' law predicts;
* turn lengths depend on the role: short user turns, long assistant and tool
  turns, and a small share of empty turns;
* text is plain lower-case words separated by spaces and a little
  punctuation, so the engine's standard tokenizer yields exactly the
  generated tokens.

Queries are drawn from the generated corpus itself: single terms by
document-frequency band, ORs, ANDs and MUST_NOTs of co-occurring terms, and
phrases taken from adjacent tokens of generated turns, so every shape matches.

Run ``python3 perfbench/gen.py`` to self-check determinism.
"""

from __future__ import annotations

import hashlib
import json
import sys
from dataclasses import dataclass, field, replace

import numpy as np

ZIPF_S = 1.07
N_RANKS = 1 << 20
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]  # 85

# (mean tokens, max tokens, share of empty turns) per role
ROLE_LENGTHS = {
    "user": (9, 40, 0.02),
    "assistant": (55, 300, 0.03),
    "tool": (90, 500, 0.05),
}
TOOLS = ("search", "python", "browser")
_PUNCT = (" ", " ", " ", " ", " ", " ", ". ", ", ")


def rank_word(rank: int) -> str:
    """One-to-one rank (0-based) -> word: bijective base-85 syllables."""
    out = []
    r = rank + 1
    while r > 0:
        r -= 1
        out.append(_SYLLABLES[r % 85])
        r //= 85
    return "".join(out)


class _Zipf:
    def __init__(self) -> None:
        w = np.arange(1, N_RANKS + 1, dtype=np.float64) ** -ZIPF_S
        cdf = np.cumsum(w)
        self.cdf = cdf / cdf[-1]
        self.words: dict[int, str] = {}

    def draw(self, rng: np.random.Generator, n: int) -> list[str]:
        ranks = np.searchsorted(self.cdf, rng.random(n), side="right")
        words = self.words
        out = []
        for r in ranks.tolist():
            w = words.get(r)
            if w is None:
                w = words[r] = rank_word(r)
            out.append(w)
        return out


_ZIPF: _Zipf | None = None


def _zipf() -> _Zipf:
    global _ZIPF
    if _ZIPF is None:
        _ZIPF = _Zipf()
    return _ZIPF


@dataclass
class Corpus:
    """Generated rows plus exact shape counts used for checks and stamps."""

    rows: list[dict]
    tokens: list[list[str]]  # per row, in row order
    shape: dict = field(default_factory=dict)


def _turn_tokens(rng: np.random.Generator, role: str) -> list[str]:
    mean, cap, empty = ROLE_LENGTHS[role]
    if rng.random() < empty:
        return []
    n = int(min(cap, max(1, rng.geometric(1.0 / mean))))
    return _zipf().draw(rng, n)


def _render(rng: np.random.Generator, toks: list[str]) -> str:
    if not toks:
        return ""
    seps = rng.integers(0, len(_PUNCT), size=len(toks))
    parts = []
    for t, s in zip(toks, seps.tolist()):
        parts.append(t)
        parts.append(_PUNCT[s])
    return "".join(parts[:-1]) + "."


def _shape(rows: list[dict], tokens: list[list[str]]) -> dict:
    vocab: set[str] = set()
    postings = 0
    for toks in tokens:
        d = set(toks)
        postings += len(d)
        vocab |= d
    return {
        "turns": len(rows),
        "tokens": sum(len(t) for t in tokens),
        "distinct_terms": len(vocab),
        "postings": postings,
        "text_bytes": sum(len(r["text"].encode("utf-8")) for r in rows),
        "empty_turns": sum(1 for t in tokens if not t),
    }


def conversations(seed: int, n_turns: int, conv_prefix: str = "c",
                  stream: bool = False) -> Corpus:
    """``n_turns`` turns grouped into conversations of 2..16 turns.

    User turns alternate with assistant or tool turns.  ``ts`` (seconds) is a
    random conversation start plus 30 s per turn; with ``stream`` a new
    conversation starts every minute and turns come every two minutes, so
    conversations overlap in time."""
    rng = np.random.default_rng([seed, 1])
    rows: list[dict] = []
    tokens: list[list[str]] = []
    c = 0
    while len(rows) < n_turns:
        n = int(min(16, 2 + rng.geometric(0.18)))
        n = min(n, n_turns - len(rows))
        start = int(rng.integers(0, 30 * 86400))
        if stream:
            start = 60 * c
        conv_id = f"{conv_prefix}{c:07d}"
        for t in range(n):
            if t % 2 == 0:
                role = "user"
            else:
                role = "tool" if rng.random() < 0.35 else "assistant"
            toks = _turn_tokens(rng, role)
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": t,
                    "role": role,
                    "text": _render(rng, toks),
                    "tool": TOOLS[int(rng.integers(0, 3))] if role == "tool" else None,
                    "ts": start + (120 if stream else 30) * t,
                }
            )
            tokens.append(toks)
        c += 1
    return Corpus(rows, tokens, _shape(rows, tokens))


# ---------------------------------------------------------------------------
# queries

# The search stream cycles these shapes in this order, so every run times the
# same mix whatever its length; shapes of typical cost come first, so the
# median over the first few queries moves little with how many complete.
# A pruned query (the CLI's --prune, through the packed block-max plan) is
# followed by its unpruned twin: the same query text with prune=False, whose
# rows it must equal.  4 of the 9 term/OR/AND queries are pruned.
PRUNED, TWIN, PLAIN = "pruned", "twin", "plain"
SEARCH_CYCLE = (
    ("term_mid", PRUNED), ("term_mid", TWIN),
    ("and", PLAIN),
    ("not", PLAIN),
    ("or", PRUNED), ("or", TWIN),
    ("term_rare", PLAIN),
    ("sloppy", PLAIN),
    ("phrase", PLAIN),
    ("term_head", PRUNED), ("term_head", TWIN),
    ("and", PRUNED), ("and", TWIN),
)


@dataclass(frozen=True)
class QuerySpec:
    """One query: its shape, the classic-parser string and the oracle call."""

    shape: str
    text: str
    prune: bool
    kind: str  # oracle family: or | and | not | phrase | sloppy
    terms: tuple
    neg: tuple = ()
    slop: int = 0


def _df_bands(tokens: list[list[str]]):
    df: dict[str, int] = {}
    for toks in tokens:
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    by_df = sorted(df, key=lambda t: (-df[t], t))
    n_docs = max(1, len(tokens))
    head = by_df[:20]
    mid = [t for t in by_df if 0.003 * n_docs <= df[t] <= 0.03 * n_docs] or by_df[20:200]
    rare = [t for t in by_df if 1 <= df[t] <= 5]
    return head, mid, rare


def _spec(shape: str, prune: bool, rng, tokens, head, mid, rare) -> QuerySpec:
    def pick(xs):
        return xs[int(rng.integers(0, len(xs)))]

    def turns(min_len):
        for _ in range(100_000):
            toks = tokens[int(rng.integers(0, len(tokens)))]
            if len(toks) >= min_len:
                yield toks
        raise ValueError(f"no turn with {min_len}+ tokens for a {shape} query")

    if shape.startswith("term_"):
        band = {"term_head": head, "term_mid": mid, "term_rare": rare}[shape]
        t = pick(band)
        return QuerySpec(shape, t, prune, "or", (t,))
    if shape == "or":
        n = int(rng.integers(3, 11))
        pool = [pick(head)] + [pick(mid if rng.random() < 0.6 else rare) for _ in range(n - 1)]
        terms = tuple(dict.fromkeys(pool))
        return QuerySpec(shape, " ".join(terms), prune, "or", terms)
    if shape in ("and", "not"):
        # two distinct co-occurring terms of one turn, the rarer one first
        common = set(head) | set(mid)
        cands = next(c for c in (sorted(set(t) & common) for t in turns(8)) if len(c) >= 2)
        a, b = (cands[i] for i in rng.choice(len(cands), 2, replace=False).tolist())
        if shape == "and":
            return QuerySpec(shape, f"+{a} +{b}", prune, "and", (a, b))
        neg = pick(head)
        must = a if a != neg else b
        return QuerySpec(shape, f"+{must} -{neg}", prune, "not", (must,), (neg,))
    toks = next(turns(6))
    if shape == "phrase":
        n = int(rng.integers(2, 4))
        i = int(rng.integers(0, len(toks) - n + 1))
        terms = tuple(toks[i:i + n])
        return QuerySpec(shape, '"' + " ".join(terms) + '"', prune, "phrase", terms)
    # sloppy: tokens two apart, matched within slop 2
    i = int(rng.integers(0, len(toks) - 2))
    terms = (toks[i], toks[i + 2])
    return QuerySpec(shape, f'"{terms[0]} {terms[1]}"~2', prune, "sloppy", terms, slop=2)


def search_queries(seed: int, corpus: Corpus, n: int) -> list[QuerySpec]:
    """The opening head-term query, then ``n`` queries of SEARCH_CYCLE."""
    rng = np.random.default_rng([seed, 2])
    head, mid, rare = _df_bands(corpus.tokens)
    out = [_spec("term_head", False, rng, corpus.tokens, head, mid, rare)]
    for i in range(n):
        shape, kind = SEARCH_CYCLE[i % len(SEARCH_CYCLE)]
        if kind == TWIN:
            out.append(replace(out[-1], prune=False))
        else:
            out.append(_spec(shape, kind == PRUNED, rng, corpus.tokens, head, mid, rare))
    return out


NRT_CYCLE = ("term_mid", "or", "phrase", "and")


def nrt_batches(seed: int, n_batches: int, batch_turns: int):
    """A stream of micro-batches in timestamp order.

    Conversations overlap in time, so one conversation's turns land in several
    batches (late turns get later doc ids than the conversation's earlier
    ones).  Returns ``[(rows, tokens), ...]`` and per-batch query specs: the
    first query of each batch uses a term of that batch, so it only matches
    once the batch is visible."""
    corpus = conversations(seed, n_batches * batch_turns, conv_prefix="n", stream=True)
    order = sorted(range(len(corpus.rows)), key=lambda i: (corpus.rows[i]["ts"], i))
    batches = []
    for b in range(n_batches):
        idx = order[b * batch_turns:(b + 1) * batch_turns]
        batches.append(([corpus.rows[i] for i in idx], [corpus.tokens[i] for i in idx]))
    rng = np.random.default_rng([seed, 3])
    queries = []
    seen: list[list[str]] = []
    for b, (_rows, toks) in enumerate(batches):
        seen.extend(toks)
        head, mid, rare = _df_bands(seen)
        batch_terms = sorted({t for ts in toks for t in ts})
        band = set(mid) | set(rare)
        fresh = [t for t in batch_terms if t in band] or batch_terms
        t = fresh[int(rng.integers(0, len(fresh)))]
        qs = [QuerySpec("term_batch", t, False, "or", (t,))]
        for shape in NRT_CYCLE[1:]:
            qs.append(_spec(shape, False, rng, toks, head, mid or head, rare or mid))
        queries.append(qs)
    return batches, queries, corpus.shape


def digest(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=list).encode("utf-8")
    ).hexdigest()


def self_check(seed: int, n_turns: int = 300) -> bool:
    """Same seed -> identical bytes; a different seed -> different bytes."""

    def one(s):
        c = conversations(s, n_turns)
        return digest([c.rows, [q.__dict__ for q in search_queries(s, c, 24)]])

    return one(seed) == one(seed) and one(seed) != one(seed + 1)


if __name__ == "__main__":
    ok = self_check(int(sys.argv[1]) if len(sys.argv) > 1 else 1)
    print(json.dumps({"self_check": ok}))
    sys.exit(0 if ok else 1)
