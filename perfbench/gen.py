"""Seeded input generator for the benchmark workloads.

Every input a workload feeds the library is built here from the workload
seed alone: the same seed gives byte-identical inputs, a different seed
gives different ones (``checksum`` proves both).  Sizes are arguments so
the benchmark's own tests can run the same code at tiny scale.

* ``make_events``  — click-stream events: Zipf-skewed ``user_id``, two
  partition columns (``country``, ``day``), typed value columns and a
  JSON ``props`` payload with nested keys, some absent and some null.
* ``make_read_queries`` — the Filter-DSL query sequence of the read
  workload, ``typed`` specs (column mode) and ``json`` specs (nested
  paths into ``props``), with seeded constants.
* ``make_corpus``  — a synthetic pre-training corpus drawn from a Zipf
  vocabulary, with planted exact duplicates, near duplicates, repeated
  boilerplate lines and eval-set contamination, plus the ground-truth
  manifest those plants define.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd

EVENT_TYPES = ["view", "click", "search", "cart", "purchase", "share",
               "signup", "logout"]
EVENT_TYPE_P = [0.34, 0.22, 0.14, 0.1, 0.08, 0.06, 0.04, 0.02]
COUNTRIES = ["US", "DE", "FR", "PL", "JP", "BR"]
COUNTRY_P = [0.35, 0.2, 0.15, 0.12, 0.1, 0.08]
DAYS = 8
URL_PREFIXES = ["https://shop.example.com/p/", "https://blog.example.com/",
                "http://m.example.org/", "https://api.example.net/v2/"]
OSES = ["ios", "android", "linux", "windows", "macos"]

# numpy streams, one per generated input, so adding an input never
# shifts the values of another
_EVENTS, _QUERIES, _CORPUS, _BATCH, _WARMUP = 1, 2, 3, 4, 5


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _zipf_choice(rng: np.random.Generator, n_items: int, size: int,
                 s: float) -> np.ndarray:
    """Indices in ``[0, n_items)`` with P(k) proportional to 1/(k+1)^s."""
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def make_events(seed: int, n: int, *, stream: int = _EVENTS) -> pd.DataFrame:
    """``n`` events with ``event_id`` 0 … n-1."""
    rng = _rng(seed, stream)
    user = _zipf_choice(rng, 50_000, n, 1.2) + 1
    etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    country = rng.choice(len(COUNTRIES), size=n, p=COUNTRY_P)
    day = rng.integers(1, DAYS + 1, size=n)
    amount = rng.integers(0, 10_000, size=n)
    price = np.round(rng.gamma(2.0, 20.0, size=n), 2)
    price_null = rng.random(n) < 0.1
    prefix = rng.integers(0, len(URL_PREFIXES), size=n)
    url_tail = rng.integers(0, 100_000, size=n)
    has_ref = rng.random(n) < 0.7
    ref_host = rng.integers(0, 40, size=n)

    # props: nested JSON whose keys are absent, present with null, or set
    os_i = rng.integers(0, len(OSES), size=n)
    ver = rng.integers(8, 18, size=n)
    camp = rng.integers(0, 300, size=n)
    cost = np.round(rng.gamma(1.5, 1.0, size=n), 2)
    score = rng.integers(0, 1000, size=n)
    beta = rng.random(n) < 0.3
    u = rng.random((n, 6))
    props = []
    for i in range(n):
        if u[i, 0] < 0.02:
            props.append(None)
            continue
        doc: dict = {}
        if u[i, 1] < 0.9:
            doc["device"] = {"os": OSES[os_i[i]], "ver": int(ver[i])}
            if u[i, 2] < 0.1:
                doc["device"]["os"] = None
        if u[i, 3] < 0.7:
            camp_doc = {"id": f"c{camp[i]}"}
            if u[i, 4] < 0.85:
                camp_doc["cost"] = float(cost[i])
            elif u[i, 4] < 0.93:
                camp_doc["cost"] = None
            doc["campaign"] = camp_doc
        doc["score"] = int(score[i])
        if u[i, 5] < 0.5:
            doc["flags"] = {"beta": bool(beta[i])}
        elif u[i, 5] < 0.6:
            doc["ab"] = None
        elif u[i, 5] < 0.75:
            doc["ab"] = "b" if beta[i] else "a"
        props.append(json.dumps(doc, separators=(",", ":")))

    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": user.astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[etype],
        "country": np.array(COUNTRIES, dtype=object)[country],
        "day": day.astype(np.int32),
        "amount": amount.astype(np.int64),
        # NaN becomes NULL on the way into Spark (Arrow null mask)
        "price": np.where(price_null, np.nan, price),
        "url": [f"{URL_PREFIXES[p]}{t}" for p, t in zip(prefix, url_tail)],
        "referrer": [f"https://ref{h}.example.com/" if r else None
                     for r, h in zip(has_ref, ref_host)],
        "props": props,
    })


def make_write_batch(seed: int, n: int) -> pd.DataFrame:
    """The event batch the write workload re-writes in every layout."""
    return make_events(seed, n, stream=_BATCH)


def make_read_queries(seed: int, n: int, *, warmup: bool = False
                      ) -> list[tuple[str, list[dict]]]:
    """``n`` ``(kind, spec)`` pairs cycling a fixed template order.

    Two of every three queries are ``typed`` (column mode through
    ``DataIO.read(filters=...)``), one is ``json`` (nested paths into
    ``props`` through ``Filter.apply(json_column=...)``).  The template
    order is fixed; only the constants come from the seed, so every seed
    asks statistically the same questions.  ``warmup=True`` draws the
    constants from another stream, so warm-up queries differ from the
    measured ones.
    """
    rng = _rng(seed, _WARMUP if warmup else _QUERIES)

    def pick(seq, k=1):
        idx = rng.choice(len(seq), size=k, replace=False)
        return [seq[i] for i in sorted(idx)]

    def day():
        return int(rng.integers(1, DAYS + 1))

    typed = [
        # equality on a typed column and a partition column
        lambda: [{"event_type": pick(EVENT_TYPES[:5], 2),
                  "country": pick(COUNTRIES)}],
        # anything-but plus partition equality
        lambda: [{"event_type": [{"anything-but": pick(EVENT_TYPES, 3)}],
                  "day": [day()]}],
        # numeric chains on typed columns (price is nullable)
        lambda: [{"amount": [{"numeric": [">=", (lo := int(rng.integers(
                     0, 8000))), "<", lo + 1500]}],
                  "price": [{"numeric": [">", float(rng.integers(5, 60))]}]}],
        # prefix plus partition OR-list plus partition range
        lambda: [{"url": [{"prefix": pick(URL_PREFIXES)[0]}],
                  "country": pick(COUNTRIES, 2),
                  "day": [{"numeric": [">=", (d := day()), "<=",
                                       min(DAYS, d + 2)]}]}],
        # exists on a present column and on an absent one
        lambda: [{"referrer": [{"exists": True}],
                  "coupon": [{"exists": False}],
                  "user_id": [{"numeric": ["<", int(rng.integers(
                      20, 400))]}]}],
        # OR of three disjuncts, one an is-null test
        lambda: [{"event_type": ["purchase"], "country": pick(COUNTRIES)},
                 {"amount": [{"numeric": [">", int(rng.integers(
                     9_900, 9_990))]}], "day": [day()]},
                 {"price": [None], "user_id": [int(rng.integers(1, 6))]}],
    ]
    json_specs = [
        lambda: [{"device": {"os": pick(OSES, 2)},
                  "campaign": {"cost": [{"numeric": [
                      ">", float(rng.integers(1, 4))]}]}}],
        lambda: [{"campaign": {"id": [{"prefix": f"c{rng.integers(1, 10)}"}]},
                  "score": [{"numeric": [">=", (s := int(rng.integers(
                      0, 700))), "<", s + 300]}]}],
        lambda: [{"ab": [{"exists": True}],
                  "device": {"os": [{"anything-but": pick(OSES)}]}}],
        lambda: [{"flags": {"beta": [True]}},
                 {"device": {"ver": [int(rng.integers(8, 18))]}}],
        lambda: [{"campaign": {"cost": [None]},
                  "device": {"os": [{"exists": True}]}}],
    ]
    out: list[tuple[str, list[dict]]] = []
    for i in range(n):
        if i % 3 == 2:
            out.append(("json", json_specs[(i // 3) % len(json_specs)]()))
        else:
            k = i - i // 3
            out.append(("typed", typed[k % len(typed)]()))
    return out


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "pa",
              "zu", "ho", "be", "ri", "mo", "sa", "ti", "gu", "fe", "no"]


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), k))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def make_corpus(seed: int, n_clean: int, *, words_per_doc: int = 120,
                n_eval: int = 0) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """Corpus ``(doc_id, text)``, eval set ``(text)`` and manifest.

    The corpus holds ``n_clean`` unique documents plus plants, each a
    fixed share of ``n_clean``:

    * exact duplicates (4 %) — byte copies of a unique document;
    * near duplicates (4 %) — copies with two words substituted;
    * contaminated documents (3 %) — a unique document with a
      13-word passage of an eval document spliced in;
    * boilerplate — 8 lines, each repeated in ~20 % of all documents.

    Every plant gets a higher id than its source, so the keep-min-id
    rules leave the source and remove the plant.  The manifest lists the
    ids of each group; ``unique`` are the untouched documents whose
    content must survive.
    """
    rng = _rng(seed, _CORPUS)
    vocab = _vocab(rng, 6000)
    vocab_arr = np.array(vocab, dtype=object)

    def sentence(k: int) -> list[str]:
        return list(vocab_arr[_zipf_choice(rng, len(vocab), k, 1.05)])

    def body(n_words: int) -> list[list[str]]:
        lines, left = [], n_words
        while left > 0:
            k = min(left, int(rng.integers(10, 22)))
            lines.append(sentence(k))
            left -= k
        return lines

    boiler = [" ".join(["cookie", "notice"] + sentence(6)) for _ in range(4)]
    boiler += [" ".join(["menu", "home", "about"] + sentence(5))
               for _ in range(4)]

    def with_boiler(lines: list[list[str]]) -> str:
        text = [" ".join(ln) for ln in lines]
        for b in boiler:
            if rng.random() < 0.2:
                text.insert(int(rng.integers(0, len(text) + 1)), b)
        return "\n".join(text)

    n_eval = n_eval or max(4, n_clean * 4 // 100)
    eval_texts = [" ".join(w for ln in body(60) for w in ln)
                  for _ in range(n_eval)]

    ids: list[int] = []
    texts: list[str] = []
    unique_lines: list[list[list[str]]] = []
    for i in range(n_clean):
        lines = body(int(rng.integers(words_per_doc // 2,
                                      3 * words_per_doc // 2)))
        unique_lines.append(lines)
        ids.append(i)
        texts.append(with_boiler(lines))

    n_exact = max(1, n_clean * 4 // 100)
    n_near = max(1, n_clean * 4 // 100)
    n_cont = max(1, n_clean * 3 // 100)
    # sources are distinct unique docs, so plants never stack
    sources = rng.choice(n_clean, size=n_exact + n_near + n_cont,
                         replace=False)
    next_id = n_clean
    exact, near, contaminated = [], [], []
    for j, src in enumerate(int(s) for s in sources):
        if j < n_exact:
            texts.append(texts[src])
            exact.append(next_id)
        elif j < n_exact + n_near:
            lines = [list(ln) for ln in unique_lines[src]]
            for _ in range(2):
                ln = lines[int(rng.integers(0, len(lines)))]
                ln[int(rng.integers(0, len(ln)))] = vocab[int(
                    rng.integers(0, len(vocab)))]
            texts.append(with_boiler(lines))
            near.append(next_id)
        else:
            # contamination rewrites the unique document in place
            # one eval document per contaminated document, so no
            # passage repeats across the corpus (a repeat would be cut
            # by span dedup before decontamination sees it)
            ev = eval_texts[(j - n_exact - n_near) % n_eval].split(" ")
            start = int(rng.integers(0, len(ev) - 13))
            lines = [list(ln) for ln in unique_lines[src]]
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         ev[start:start + 13])
            texts[src] = with_boiler(lines)
            contaminated.append(src)
            continue
        ids.append(next_id)
        next_id += 1

    docs = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                         "text": texts})
    # deterministic row order independent of plant order
    docs = docs.sample(frac=1.0, random_state=int(rng.integers(0, 2**31))
                       ).reset_index(drop=True)
    planted = set(exact) | set(near) | set(contaminated)
    sources_set = {int(s) for s in sources}
    manifest = {
        "exact_dup": sorted(exact),
        "near_dup": sorted(near),
        "contaminated": sorted(contaminated),
        "unique": sorted(i for i in range(n_clean)
                         if i not in planted and i not in sources_set),
        "source": sorted(int(s) for s in sources[: n_exact + n_near]),
        "words": {int(i): len(t.split()) for i, t in zip(docs["doc_id"],
                                                         docs["text"])},
    }
    return docs, pd.DataFrame({"text": eval_texts}), manifest


# ---------------------------------------------------------------------------
# accounting
# ---------------------------------------------------------------------------


def checksum(*frames: pd.DataFrame) -> str:
    """Order-sensitive digest of the frames' values (first 16 hex)."""
    h = hashlib.sha256()
    for df in frames:
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def jsonl_bytes(df: pd.DataFrame) -> int:
    """Size of ``df`` as UTF-8 JSON lines — the fixed per-seed base of
    the stored-bytes ratio."""
    return len(df.to_json(orient="records", lines=True).encode())
