"""Seeded BM25 request mix and its execution on both serving tiers.

A request is a plain dict (JSON-able, hashable by ``key(req)``):

    {"kind": "search" | "rescore",
     "tag":  the mix slot it fills (or_head, and_selective, ...),
     "tree": term-tree spec, see ``build_tree``,
     "opts": search keyword arguments in spec form,
     "hydrate": bool}

Term-tree specs: a word (``"def"``), ``["or", spec, ...]``,
``["and", spec, ...]`` and ``["andnot", spec, spec]``. Every word lives
in the ``content`` field.

``Mix`` owns one seeded random stream (the batch's words come from a
fixed one). Every ``round()`` yields the same
hot slots in the same order: they keep their terms for the whole run
(warm caches), while the ``miss`` slots draw words no earlier request
used (cold caches on the resident tier).
"""

from __future__ import annotations

import json
import random

FIELD = "content"
# tail words: Zipf ranks well past the keyword head, in tens of docs per
# 10k (VOCAB_SIZE 5000, s = 1.1)
TAIL_LO, TAIL_HI = 300, 3000
# Head words are fixed per slot, so every seed costs the same: a head
# word's postings dominate a query's cost, and the head spans a wide
# range of document frequencies. The seed draws the tail words and the
# docs whose ``uniq_*`` words the misses use.
HEADS = {"or_mixed": ("def",), "and_selective": ("import",),
         "boosts": ("return", "if"), "msm": ("else", "for"),
         "exclude": ("while", "class"), "or_head": ("self", "x", "i"),
         "demote": ("func", "var"), "and_head": ("let", "const"),
         "or_tail": (), "nested_not": ("int", "str", "len", "range"),
         "after": ("def",), "rescore": ("import", "return"),
         "hydrate": ("print",), "miss_tail": ("true",), "miss_uniq": ()}
BATCH_HEADS = ("def", "import", "return", "if", "else", "for", "while",
               "class", "self", "x", "i", "func")

# the 13 slots of one round; a batch of BATCH_SIZE flat queries precedes
# each round. The order is fixed, so every run measures the same verbs;
# the one-job verbs come first and the costlier ones last (nested NOT
# and ``after`` run an exhaustive or two-page plan, rescore and hydrate
# an extra job), so a short Spark-tier window still measures alike.
SLOTS = ("or_mixed", "and_selective", "boosts", "msm", "exclude", "or_head",
         "demote", "and_head", "or_tail", "nested_not", "after", "rescore",
         "hydrate")
BATCH_SIZE = 24
# tail words the batch draws (2 for every fourth query, else 1), from a
# fixed stream
BATCH_TAILS = 30
BATCH_WORDS_SEED = 24


def key(req: dict) -> str:
    return json.dumps(req, sort_keys=True)


class Mix:
    """Seeded request generator; ``misses`` fresh-term requests per round."""

    def __init__(self, seed: int, misses: int, n_docs: int, doc_start: int):
        self.rng = random.Random(seed * 7919 + 17)
        self.misses = misses
        self.n_docs, self.doc_start = n_docs, doc_start
        # The batch's tail words are the same for every seed: with
        # seed-drawn words its resident-tier cost moved ~15% with the
        # seed (the ``auto`` strategy choice turns on them), more than
        # the host's own noise. The solos carry the seed's variation and
        # never draw the batch's words.
        pool = [f"tok{i}" for i in range(TAIL_LO, TAIL_HI)]
        random.Random(BATCH_WORDS_SEED).shuffle(pool)
        batch_words, pool = iter(pool[:BATCH_TAILS]), pool[BATCH_TAILS:]
        self.rng.shuffle(pool)
        self._tail = iter(pool)
        self._uniq = iter(self.rng.sample(range(n_docs), n_docs))
        self.hot = [self._slot(s) for s in SLOTS]
        self.batch = self._batch(lambda: next(batch_words))

    def tail(self) -> str:
        return next(self._tail)

    def _slot(self, tag: str) -> dict:
        h, t = HEADS[tag], self.tail
        req = {"kind": "search", "tag": tag, "opts": {}, "hydrate": False}
        if tag == "or_head":
            req["tree"] = ["or", *h]
        elif tag in ("or_mixed", "hydrate", "miss_tail"):
            req["tree"] = ["or", h[0], t(), t()]
            req["hydrate"] = tag == "hydrate"
        elif tag == "or_tail":
            req["tree"] = ["or", t(), t(), t()]
        elif tag == "and_head":
            req["tree"] = ["and", *h]
        elif tag == "and_selective":
            req["tree"] = ["and", h[0], t()]
        elif tag == "nested_not":
            a, b, c, d = h
            req["tree"] = ["andnot", ["and", ["or", a, b], c], d]
        elif tag == "exclude":
            req["tree"] = ["or", h[0], t(), t()]
            req["opts"] = {"exclude": h[1]}
        elif tag == "boosts":
            tt = t()
            req["tree"] = ["or", *h, tt]
            req["opts"] = {"boosts": {h[0]: 0.4, tt: 3.0}}
        elif tag == "after":
            req["tree"] = ["or", h[0], t(), t()]
            req["opts"] = {"after": "page1"}   # the cursor comes at run time
        elif tag == "msm":
            req["tree"] = ["or", *h, t()]
            req["opts"] = {"min_should_match": 2}
        elif tag == "demote":
            req["tree"] = ["or", h[0], t(), t()]
            req["opts"] = {"demote": h[1], "demote_factor": 0.5}
        elif tag == "rescore":
            req["kind"] = "rescore"
            req["tree"] = ["or", h[0], t(), t()]
            req["opts"] = {"rescore": ["and", h[1], t()],
                           "window_size": 30, "rescore_weight": 2.0}
        elif tag == "miss_uniq":
            i = self.doc_start + next(self._uniq)
            req["tree"] = ["or", f"uniq_{i}", t()]
        else:
            raise ValueError(tag)
        return req

    def round(self) -> list[dict]:
        """One round: the hot slots, with ``misses`` fresh requests
        spread evenly between them."""
        gap = len(self.hot) // (self.misses + 1)
        reqs: list[dict] = []
        left = self.misses
        for i, req in enumerate(self.hot, 1):
            reqs.append(req)
            if left and i % gap == 0:
                reqs.append(self._slot(("miss_tail", "miss_uniq")[left % 2]))
                left -= 1
        return reqs

    def _batch(self, tail) -> dict[str, dict]:
        """The ``search_many`` batch: flat queries with per-query
        options (exclude, min_should_match), the same in every pass."""
        out = {}
        for j in range(BATCH_SIZE):
            a = BATCH_HEADS[j % len(BATCH_HEADS)]
            b = BATCH_HEADS[(j + 5) % len(BATCH_HEADS)]
            req = {"kind": "search", "tag": "batch", "opts": {},
                   "hydrate": False}
            if j % 4 == 0:
                req["tree"] = ["or", a, tail(), tail()]
            elif j % 4 == 1:
                req["tree"] = ["and", a, tail()]
            elif j % 4 == 2:
                req["tree"] = ["or", a, tail()]
                req["opts"] = {"exclude": b}
            else:
                req["tree"] = ["or", a, b, tail()]
                req["opts"] = {"min_should_match": 2}
            out[f"b{j:02d}"] = req
        return out


# -- spec -> engine arguments ------------------------------------------------

def words_of(spec) -> list[str]:
    """Scored words of a positive tree, in first-seen order."""
    if isinstance(spec, str):
        return [spec]
    op, *kids = spec
    if op == "andnot":
        kids = kids[:1]
    out: list[str] = []
    for k in kids:
        out += [w for w in words_of(k) if w not in out]
    return out


def read_words(req: dict) -> list[str]:
    """Every word a request makes the engine read, scored or not."""
    def leaves(spec):
        return [spec] if isinstance(spec, str) else \
            [w for k in spec[1:] for w in leaves(k)]
    o = req["opts"]
    return (leaves(req["tree"]) + leaves(o.get("rescore", ["or"]))
            + [o[k] for k in ("exclude", "demote") if k in o])


def build_tree(spec):
    """Spec -> TermQuery."""
    from quicker_spark.plans.term_query import And, AndNot, NewTermQuery, Or

    if isinstance(spec, str):
        return NewTermQuery(FIELD, spec)
    op, *kids = spec
    return {"or": Or, "and": And, "andnot": AndNot}[op](
        *(build_tree(k) for k in kids))


def search_args(req: dict, cursor=None) -> tuple:
    """(TermQuery, kwargs) for ``search`` on either tier."""
    from quicker_spark.plans.term_query import NewTermQuery

    q = build_tree(req["tree"])
    o = req["opts"]
    kw: dict = {}
    if "exclude" in o:
        kw["exclude"] = NewTermQuery(FIELD, o["exclude"])
    if "boosts" in o:
        kw["boosts"] = {f"{FIELD}\x01{w}": b for w, b in o["boosts"].items()}
    if "min_should_match" in o:
        kw["min_should_match"] = o["min_should_match"]
    if "demote" in o:
        kw["demote"] = NewTermQuery(FIELD, o["demote"])
        kw["demote_factor"] = o["demote_factor"]
    if "after" in o:
        kw["after"] = cursor
    return q, kw
