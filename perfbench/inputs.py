"""Seeded benchmark inputs: serve query stream, batch queries, updates.

The corpus itself comes from ``corpus.generate_rows(n, seed)``; this module
derives every query from the same ``--seed`` through independent numpy
streams, so one seed fixes everything the engine receives.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np

from semantic_search_engine_spark.corpus import (BASE_TS, QUERY_CORPUS,
                                                 build_vocab, render_page,
                                                 zipf_probs)

#: serve call shapes, repeated in this fixed order so that every window
#: of ten calls holds the same mix: 50% topk, 30% filtered, 10% exact and
#: 10% after
SERVE_CYCLE = ("topk", "filtered", "topk", "exact", "topk", "filtered",
               "topk", "after", "topk", "filtered")
SERVE_SHAPE_WEIGHTS = {shape: SERVE_CYCLE.count(shape) / len(SERVE_CYCLE)
                       for shape in SERVE_CYCLE}
#: ``lang`` of successive filtered calls (the corpus is ~95% "en")
FILTER_LANGS = ("en", "de", "en", "fr", "en", "es", "en", "en", "en", "en")
#: serve-stream positions (mod 20) of planted phrases (15%) and of queries
#: starting with an absent term (5%); none is an ``after`` position
_PLANTED_AT, _ABSENT_AT = (2, 11, 16), (6,)

#: stream ids mixed into the seed, one per independent input stream
_SERVE_STREAM, _BATCH_STREAM, _UPDATE_STREAM = 1, 2, 3


def serve_stream(seed: int, n: int) -> list[tuple[str, str, str | None]]:
    """``n`` serve calls as (shape, query, lang).

    Like the shapes, the kinds of query sit at fixed positions, so every
    window holds the same make-up and a seed changes only the terms:
    planted ``QUERY_CORPUS`` phrases, queries starting with a term that
    occurs nowhere, and otherwise 1, 2, 1, 2, 3 terms drawn Zipf-weighted
    from the whole vocabulary. ``after`` calls draw 1–2 of the 10 head
    terms, so each has a second page to fetch."""
    rng = np.random.default_rng([seed, _SERVE_STREAM])
    vocab = build_vocab()
    probs = zipf_probs(len(vocab))
    head_probs = zipf_probs(10)
    out = []
    n_filtered = 0
    for i in range(n):
        shape = SERVE_CYCLE[i % len(SERVE_CYCLE)]
        lang = None
        if shape == "after":
            terms = rng.choice(vocab[:10], size=1 + i // 10 % 2,
                               replace=False, p=head_probs)
        elif i % 20 in _PLANTED_AT:
            terms = [QUERY_CORPUS[rng.integers(len(QUERY_CORPUS))].query]
        else:
            terms = [str(t) for t in rng.choice(
                vocab, size=(1, 2, 1, 2, 3)[i % 5], p=probs)]
            if i % 20 in _ABSENT_AT:
                terms[0] = f"absent{int(rng.integers(10**6))}x"
        if shape == "filtered":
            lang = FILTER_LANGS[n_filtered % len(FILTER_LANGS)]
            n_filtered += 1
        out.append((shape, " ".join(str(t) for t in terms), lang))
    return out


def batch_calls(seed: int, n_calls: int, call_size: int) -> list[list[str]]:
    """``n_calls`` lists of ``call_size`` head-weighted queries.

    Every call has the same make-up, so calls cost alike and a seed changes
    which queries run, not how heavy they are: by position, one query in
    ten is a planted phrase, one in fifty starts with an absent term, and
    the rest have 1, 1, 2, 2, 3 terms. Each term slot is Latin-hypercube
    sampled from the Zipf law over the 200 most frequent terms, so each
    call holds the head terms in fixed proportions (posting lists long)."""
    rng = np.random.default_rng([seed, _BATCH_STREAM])
    vocab = build_vocab()[:200]
    cdf = np.cumsum(zipf_probs(len(vocab)))
    planted = [pq.query for pq in QUERY_CORPUS]
    calls = []
    for _ in range(n_calls):
        slots = [(np.arange(call_size) + rng.random(call_size))[
            rng.permutation(call_size)] / call_size for _ in range(3)]
        ranks = [np.minimum(np.searchsorted(cdf, u), len(vocab) - 1)
                 for u in slots]
        queries = []
        for i in range(call_size):
            if i % 10 == 9:
                queries.append(planted[(i // 10) % len(planted)])
                continue
            terms = [vocab[ranks[j][i]] for j in range((1, 1, 2, 2, 3)[i % 5])]
            if i % 50 == 0:
                terms[0] = f"absent{int(rng.integers(10**6))}x"
            queries.append(" ".join(terms))
        calls.append(queries)
    return calls


def update_rows(seed: int, base_rows: list[dict], n_changed: int,
                n_new: int) -> list[dict]:
    """An ``ingest_updates`` batch in the corpus row shape: ``n_changed``
    recrawled pages of existing urls (new body, a later ``warc_ts`` so
    they win the per-url resolution) and ``n_new`` pages of new urls.
    Bodies are Zipf-drawn vocabulary plus the marker term ``ingestedq``,
    wrapped in the corpus page template."""
    rng = np.random.default_rng([seed, _UPDATE_STREAM])
    vocab = np.array(build_vocab())
    probs = zipf_probs(len(vocab))
    # docs 0-9 are the fixed edge cases of the corpus; leave them alone
    changed = rng.choice(np.arange(10, len(base_rows)), size=n_changed,
                         replace=False)
    targets = [(base_rows[i]["url"], base_rows[i]["warc_ts"], i)
               for i in sorted(changed)]
    targets += [(f"https://fresh{j % 7}.example/new/{j:05d}",
                 BASE_TS, len(base_rows) + j) for j in range(n_new)]
    out = []
    for url, ts, i in targets:
        words = [str(w) for w in rng.choice(
            vocab, size=int(rng.integers(20, 200)), p=probs)]
        words.insert(int(rng.integers(len(words))), "ingestedq")
        mid = len(words) // 2
        html = render_page(i, f"updated {' '.join(words[:3])}",
                           " ".join(words[:mid]), " ".join(words[mid:]))
        out.append({"url": url, "warc_ts": ts + _dt.timedelta(days=1),
                    "html": html.encode("utf-8"), "text": None,
                    "lang": "en"})
    return out
