"""Seeded inputs for the benchmark, with their expected results.

Everything the engine receives comes from here and depends only on the
seed. Beside each input the generator keeps its own bookkeeping of what a
correct engine must answer, derived from the documented semantics and
never from the engine:

- page dumps: the distinct pages, the hashable reference identities
  (doi -> pmid -> isbn -> oclc -> url, first match wins, as in
  ``functions/hashing.py``) and the first-level domains of the urls;
- curation nights: which docs are in-batch duplicates, history
  duplicates, low quality and kept, the corpus size after the night's
  purge, and the live vector set the ANN probe searches.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass, field

import numpy as np

WIKIBASE_TITLE = "sandbox.wiki"


def salted_md5(key: str) -> str:
    """md5 over the wikibase title plus the lowercased, space-stripped key."""
    return hashlib.md5(
        (WIKIBASE_TITLE + key.lower().replace(" ", "")).encode()
    ).hexdigest()


def page_hash(page_id: int, language_code: str = "en") -> str:
    return hashlib.md5(
        f"{WIKIBASE_TITLE}{language_code}{page_id}".encode()
    ).hexdigest()


# --- page dumps --------------------------------------------------------------

_TLDS = ("com", "org", "net")
_MONTHS = ("January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December")
_SURNAMES = ("Smith", "Garcia", "Okafor", "Tanaka", "Novak", "Larsen",
             "Haddad", "Costa", "Ivanova", "Nguyen", "Müller", "O'Brien")
_GIVEN = ("Ana", "Ben", "Chen", "Dara", "Emil", "Fatima", "Goran", "Hana")
_FILLER = ("The river delta", "Early records", "Local census data",
           "A later survey", "The second edition", "Field notes")


@dataclass
class Citation:
    """One citation template occurrence's identity: its hash key (None when
    unhashable), its first-level domain (None without a url) and whether
    its template is schema-rejected (then it yields nothing)."""

    text: str
    key: str | None
    domain: str | None
    rejected: bool = False


@dataclass
class Dump:
    rows: list[dict]
    page_hashes: set[str]
    ref_hashes: set[str]
    site_hashes: set[str]

    @property
    def n_pages(self) -> int:
        return len(self.page_hashes)

    @property
    def items_by_type(self) -> dict[str, int]:
        return {
            "WIKIPEDIA_PAGE": len(self.page_hashes),
            "WIKIPEDIA_REFERENCE": len(self.ref_hashes),
            "WEBSITE_ITEM": len(self.site_hashes),
        }

    @property
    def n_items(self) -> int:
        return sum(self.items_by_type.values())


def _date(rng: random.Random) -> str:
    y, m, d = rng.randint(1990, 2023), rng.randint(1, 12), rng.randint(1, 28)
    form = rng.randrange(4)
    if form == 0:
        return f"{y}-{m:02d}-{d:02d}"
    if form == 1:
        return f"{d} {_MONTHS[m - 1]} {y}"
    if form == 2:
        return f"{_MONTHS[m - 1]} {d}, {y}"
    return f"{_MONTHS[m - 1]} {y}"


def _authors(rng: random.Random) -> str:
    form = rng.randrange(3)
    names = [(rng.choice(_SURNAMES), rng.choice(_GIVEN))
             for _ in range(rng.randint(1, 4))]
    if form == 0:
        return "".join(
            f" |last{i}={s} |first{i}={g}" for i, (s, g) in enumerate(names, 1)
        )
    if form == 1:
        return f" |author={names[0][1]} {names[0][0]}"
    return " |vauthors=" + ", ".join(f"{s} {g[0]}" for s, g in names)


def _title(rng: random.Random, k: int) -> str:
    title = f"{rng.choice(_FILLER)} {k}"
    r = rng.random()
    if r < 0.1:
        # nested template: extracted as its own (unsupported) entry, the
        # parent keeps the raw text in its value
        title = f"{{{{lang|fr|{title}}}}}"
    elif r < 0.2:
        title += " <!-- checked against the print copy -->"
    return title


def _citation(rng: random.Random, k: int, n_domains: int) -> Citation:
    """A new distinct citation with identity number ``k``."""
    dom = f"site{rng.randrange(n_domains)}.{rng.choice(_TLDS)}"
    url = f"https://www.{dom}/articles/{k}"
    extra = _authors(rng) + f" |date={_date(rng)}"
    if rng.random() < 0.5:
        extra += f" |access-date={_date(rng)}"
    kind = rng.random()
    with_url = rng.random() < 0.6
    if kind < 0.25:
        key = f"10.{1000 + k % 9000}/j.{k}"
        body = f"cite journal |journal=Journal {k % 97} |doi={key}"
    elif kind < 0.35:
        key = str(10_000_000 + k)
        body = f"cite journal |journal=Journal {k % 97} |pmid={key}"
    elif kind < 0.50:
        digits = f"978{k:010d}"  # k < 10**10: thirteen digits
        isbn = f"{digits[:3]}-{digits[3]}-{digits[4:8]}-{digits[8:12]}-{digits[12]}"
        key = digits
        body = f"cite book |publisher=Press {k % 31} |isbn={isbn}"
    elif kind < 0.58:
        key = str(500_000 + k)
        body = f"cite book |publisher=Press {k % 31} |oclc={key}"
    elif kind < 0.92:
        key = url
        with_url = True
        body = f"cite {rng.choice(('web', 'news'))} |website={dom}"
    else:
        # no identity and no url: a string citation, not an item
        key = None
        with_url = False
        body = "cite news |work=The Daily Record"
    if with_url:
        body += f" |url={url}"
    rejected = rng.random() < 0.02
    if rejected:
        # unknown parameter: the whole template goes to the rejects log
        body += " |unknown-param=x"
    text = f"{{{{{body} |title={_title(rng, k)}{extra}}}}}"
    return Citation(text, key, dom if with_url else None, rejected)


def page_dump(
    seed: int,
    n_pages: int,
    cites_per_page: tuple[int, int] = (15, 30),
    shared_share: float = 0.3,
    first_page_id: int = 1,
) -> Dump:
    """A dense page dump: every page carries ``cites_per_page`` citation
    templates inside ``<ref>`` tags, about ``shared_share`` of them drawn
    from a pool shared across pages. Also plants non-citation templates, a
    commented-out citation (not extracted), schema rejects and a few
    repeated page rows (the import dedups on page_id)."""
    rng = random.Random(seed)
    n_domains = max(20, n_pages)
    start = rng.randrange(10**8)
    serial = iter(range(start, start + 10**8))
    per_page = [rng.randint(*cites_per_page) for _ in range(n_pages)]
    pool = [
        _citation(rng, next(serial), n_domains)
        for _ in range(max(1, int(sum(per_page) * shared_share / 3)))
    ]
    rows, keys, domains = [], set(), set()
    page_hashes = set()
    for i, n_cites in enumerate(per_page):
        pid = first_page_id + i
        page_hashes.add(page_hash(pid))
        parts = [f"'''Page {pid}''' is an article.{{{{Infobox thing |name=P{pid}}}}}"]
        for _ in range(n_cites):
            cit = (
                rng.choice(pool)
                if rng.random() < shared_share
                else _citation(rng, next(serial), n_domains)
            )
            if not cit.rejected:
                if cit.key is not None:
                    keys.add(cit.key)
                if cit.domain is not None:
                    domains.add(cit.domain)
            parts.append(f"Claim {rng.randrange(1000)}.<ref>{cit.text}</ref>")
        parts.append(
            "<!-- {{cite web |url=https://www.commented.org/x |title=Hidden}} -->"
        )
        parts.append("== References ==\n{{reflist}}")
        rows.append({
            "page_id": pid,
            "title": f"Page {pid}",
            "language_code": "en",
            "wikimedia_site": "wikipedia",
            "namespace": 0,
            "is_redirect": False,
            "latest_revision_id": 1_000_000 + pid,
            "latest_revision_date": None,
            "wikitext": "\n".join(parts),
        })
    # identical repeated rows, as a dump with duplicate page records has
    rows += [dict(r) for r in rng.sample(rows, max(1, n_pages // 100))]
    rng.shuffle(rows)
    return Dump(
        rows=rows,
        page_hashes=page_hashes,
        ref_hashes={salted_md5(k) for k in keys},
        site_hashes={salted_md5(d) for d in domains},
    )


# --- curation nights -----------------------------------------------------------

_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es", "para", "en"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "mit", "auf"),
}
_EN_STOPWORDS = frozenset(_STOPWORDS["en"])
_TOKEN_SPLIT = re.compile("[^a-z0-9]+")
_NON_TEXT = re.compile(r"[a-zA-Z0-9\s]")
MIN_QUALITY = 0.7


def quality(text: str) -> float:
    """The curation quality rule: 0.4 for 10+ tokens, 0.3 for under 20%
    punctuation, 0.3 for at least 5% English stopwords."""
    toks = [t for t in _TOKEN_SPLIT.split(text.lower()) if t]
    punct = len(_NON_TEXT.sub("", text)) / len(text) if text else 0.0
    stop = sum(t in _EN_STOPWORDS for t in toks) / len(toks) if toks else 0.0
    score = (0.4 if 10 <= len(toks) <= 100_000 else 0.0)
    score += 0.3 if round(punct, 4) < 0.2 else 0.0
    score += 0.3 if round(stop, 4) >= 0.05 else 0.0
    return round(score, 4)


@dataclass
class Night:
    """One curation batch and what a correct engine answers for it."""

    ids: list[int]
    texts: list[str]
    vectors: np.ndarray            # one per doc, float32
    dup_of_batch: set[int]
    dup_of_history: set[int]
    low_quality: set[int]
    kept: set[int]
    doomed: list[int]              # purged after the night
    corpus_after_purge: int
    live_ids: list[int]            # vector ids the ANN probe searches


@dataclass
class Curation:
    history: Night
    nights: list[Night] = field(default_factory=list)
    num_queries: int = 20
    # state after the last night's purge
    corpus_ids: set[int] = field(default_factory=set)
    index_hashes: set[str] = field(default_factory=set)


class _Docs:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.vocab = [f"t{rng.randrange(36 ** 4):x}" for _ in range(4000)]

    def good(self) -> str:
        lang = self.rng.choice(tuple(_STOPWORDS))
        stops = _STOPWORDS[lang] + ("the", "of")
        words = [
            self.rng.choice(stops) if self.rng.random() < 0.3
            else self.rng.choice(self.vocab)
            for _ in range(self.rng.randint(20, 60))
        ]
        return " ".join(words)

    def low(self) -> str:
        return " ".join(
            self.rng.choice(self.vocab) for _ in range(self.rng.randint(3, 8))
        )

    def near(self, text: str) -> str:
        words = text.split()
        words[self.rng.randrange(len(words))] = self.rng.choice(self.vocab)
        return " ".join(words)


def curation(
    seed: int,
    n_history: int,
    n_per_night: int,
    n_nights: int,
    n_doomed: int,
    dim: int = 32,
    num_clusters: int = 16,
    num_queries: int = 20,
) -> Curation:
    """A history batch plus ``n_nights`` nightly batches. Each night plants
    in-batch exact duplicates (copies with a higher doc_id), exact
    duplicates of texts the dedup index holds, near-duplicates of history
    (one token changed), low-quality docs and four languages; after each
    night ``n_doomed`` corpus docs are purged."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    docs = _Docs(rng)
    centers = nrng.normal(size=(num_clusters, dim))

    def vectors(n: int) -> np.ndarray:
        v = centers[nrng.integers(0, num_clusters, n)]
        return (v + 0.35 * nrng.normal(size=(n, dim))).astype(np.float32)

    index: dict[str, str] = {}      # md5(text) -> text, the dedup index
    corpus: dict[int, str] = {}     # doc_id -> md5(text), kept winners
    live: set[int] = set()          # vector ids in the ANN store

    def settle(ids: list[int], texts: list[str]) -> Night:
        first: dict[str, int] = {}
        dup_b, dup_h, low, kept = set(), set(), set(), set()
        for i, t in sorted(zip(ids, texts)):
            h = hashlib.md5(t.encode()).hexdigest()
            # the quality flag is reported for every doc, duplicates too
            if quality(t) < MIN_QUALITY:
                low.add(i)
            if h in first:
                dup_b.add(i)
                continue
            first[h] = i
            if h in index:
                dup_h.add(i)
                continue
            index[h] = t
            if i not in low:
                kept.add(i)
                corpus[i] = h
        live.update(kept)
        return Night(ids, texts, vectors(len(ids)), dup_b, dup_h, low, kept,
                     [], len(corpus), sorted(live))

    # history: the first num_queries docs are plain novel docs, so the
    # probe's queries (vec_id < num_queries) always exist and stay live
    h_ids = list(range(n_history))
    h_texts = [docs.good() for _ in range(num_queries)]
    while len(h_texts) < n_history:
        r = rng.random()
        if r < 0.05 and h_texts:
            h_texts.append(rng.choice(h_texts))
        elif r < 0.10:
            h_texts.append(docs.low())
        else:
            h_texts.append(docs.good())
    def purge(night: Night) -> None:
        purgeable = sorted(i for i in corpus if i >= num_queries)
        night.doomed = rng.sample(purgeable, n_doomed)
        for i in night.doomed:
            del index[corpus.pop(i)]
            live.discard(i)
        night.corpus_after_purge = len(corpus)

    out = Curation(settle(h_ids, h_texts), num_queries=num_queries)

    for n in range(n_nights):
        base = 1_000_000 * (n + 1)
        texts: list[str] = []
        history_texts = list(index.values())
        while len(texts) < n_per_night:
            r = rng.random()
            if r < 0.08:
                texts.append(rng.choice(history_texts))
            elif r < 0.13 and texts:
                texts.append(rng.choice(texts))
            elif r < 0.21:
                texts.append(docs.near(rng.choice(history_texts)))
            elif r < 0.29:
                texts.append(docs.low())
            else:
                texts.append(docs.good())
        night = settle([base + i for i in range(n_per_night)], texts)
        purge(night)
        out.nights.append(night)
    out.corpus_ids, out.index_hashes = set(corpus), set(index)
    return out


def vectors_of(cur: Curation) -> dict[int, np.ndarray]:
    """Every generated vector by id (history and all nights)."""
    out = {}
    for night in [cur.history, *cur.nights]:
        out.update(zip(night.ids, night.vectors))
    return out


def exact_topk(
    all_vecs: dict[int, np.ndarray], live_ids: list[int], queries: list[int],
    k: int = 10,
) -> dict[int, set[int]]:
    """Exact cosine top-k over ``live_ids`` for each query, itself excluded."""
    ids = np.asarray(live_ids)
    mat = np.stack([all_vecs[i] for i in live_ids]).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for q in queries:
        v = all_vecs[q].astype(np.float64)
        sims = mat @ (v / np.linalg.norm(v))
        sims[ids == q] = -np.inf
        out[q] = set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())
    return out
