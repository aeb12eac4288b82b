"""Seeded synthetic inputs: a small German news web and a document corpus.

Everything here is a pure function of ``(seed, spec)``. The shape of the
web (host names, per-host article counts, listing growth) depends on the
spec only, so the work per run is the same for every seed; the seed picks
the page text, image pixels, and which articles fail, are robots-blocked,
or carry a re-hosted wire photo. :func:`predict_crawl` and
:func:`predict_corpus` enumerate the same choices to give the exact
outputs the library must commit.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

WORDS = (
    "der die das und nicht mit ein eine ist auch auf für von den dem zu im "
    "sich wird bei nach wie aus oder noch nur über vor schon mehr wenn aber "
    "stadt land bund regierung minister kanzler partei wahl gesetz gericht "
    "polizei schule kita klinik arzt pflege rente steuer haushalt milliarden "
    "euro preise energie strom gas wärme klima wetter regen sturm hitze "
    "fluss brücke bahn zug straße verkehr fahrrad flughafen hafen schiff "
    "markt handel firma betrieb arbeit lohn streik gewerkschaft verband "
    "kultur theater museum oper konzert film buch autorin künstler bühne "
    "sport fußball verein trainer spiel saison tor sieg niederlage liga "
    "wissenschaft forschung studie universität daten digital netz internet "
    "sicherheit armee grenze krieg frieden verhandlung gipfel abkommen "
    "gemeinde rathaus bürger bürgermeisterin rat antrag beschluss plan "
    "woche montag dienstag mittwoch donnerstag freitag samstag sonntag "
    "januar februar märz april mai juni juli august september oktober "
    "morgen abend nacht jahr jahre monat tag zeit heute gestern bericht "
    "zeitung redaktion meldung interview kommentar analyse hintergrund "
    "neue alte große kleine junge erste letzte viele wenige gute schlechte "
    "berlin hamburg münchen köln frankfurt leipzig dresden bremen hannover"
).split()

CATEGORIES = ("Politik", "Kultur", "Sport", "Wirtschaft", "Wissen", "Stadt")


def stable_hash(*parts) -> int:
    """64-bit hash of the parts' string forms, identical in every process."""
    h = hashlib.blake2b(":".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big")


def unit(*parts) -> float:
    return stable_hash(*parts) / 2.0**64


# --- the web ------------------------------------------------------------------

@dataclass(frozen=True)
class WebSpec:
    n_hosts: int = 24
    n_articles: int = 2000  # articles listed on day 0, over all hosts
    mega_hosts: int = 2  # the first hosts share ``mega_share`` of the articles
    mega_share: float = 1 / 3
    zipf_s: float = 1.0  # article counts of the other hosts ∝ rank^-s
    new_per_day: int = 4  # K: articles each listing gains per day
    paras: int = 10
    words_per_para: int = 24
    two_fig_share: float = 0.25  # articles with a second figure
    fail_5xx_share: float = 0.02  # article fetch answers 503
    fail_exc_share: float = 0.015  # article fetch raises in the fetcher
    blocked_share: float = 0.02  # article under a robots.txt Disallow path
    # articles added after day 0 whose figure 0 re-hosts a day-0 photo
    # (new URL, same pixels). Day-0 articles carry none: two copies fetched
    # in one batch can tie on the (priority, seq) order key, and the
    # library keeps both rows of a tie.
    wire_share: float = 0.30
    img_size: int = 32


def host_name(k: int) -> str:
    return f"h{k:02d}-zeitung.example"


def domain_of(k: int) -> str:
    return f"d{k:02d}_paper"


def host_counts(spec: WebSpec) -> list[int]:
    """Day-0 article count per host: mega-hosts split ``mega_share``; the
    rest follow a Zipf law. Independent of the seed."""
    mega = [round(spec.n_articles * spec.mega_share / spec.mega_hosts)] * spec.mega_hosts
    rest_n = spec.n_articles - sum(mega)
    k_rest = spec.n_hosts - spec.mega_hosts
    w = [(r + 1) ** -spec.zipf_s for r in range(k_rest)]
    rest = [max(2, round(rest_n * x / sum(w))) for x in w]
    return mega + rest


def listed(spec: WebSpec, n0: int, day: int) -> int:
    return n0 + day * spec.new_per_day


def article_fate(seed: int, spec: WebSpec, k: int, i: int) -> str:
    """'ok' | '5xx' | 'exc' | 'blocked' for article i of host k."""
    u = unit(seed, "fate", k, i)
    if u < spec.blocked_share:
        return "blocked"
    u -= spec.blocked_share
    if u < spec.fail_5xx_share:
        return "5xx"
    u -= spec.fail_5xx_share
    if u < spec.fail_exc_share:
        return "exc"
    return "ok"


def n_figures(seed: int, spec: WebSpec, k: int, i: int) -> int:
    return 2 if unit(seed, "figs", k, i) < spec.two_fig_share else 1


def article_path(seed: int, spec: WebSpec, k: int, i: int) -> str:
    d = "intern" if article_fate(seed, spec, k, i) == "blocked" else "artikel"
    return f"/{d}/a{i}"


class Web:
    """The web one crawl sees: structure from ``spec``, content from
    ``seed``. ``day`` is how many days of new articles the listings show."""

    def __init__(self, seed: int, spec: WebSpec, day: int = 0):
        self.seed, self.spec, self.day = seed, spec, day
        self.counts = host_counts(spec)
        self.host_index = {host_name(k): k for k in range(spec.n_hosts)}

    def at_day(self, day: int) -> Web:
        return Web(self.seed, self.spec, day)

    def seeds(self) -> list[tuple[str, str, str, str]]:
        """(domain, base_url, host, collection) rows for ``run_crawl``."""
        return [
            (domain_of(k), f"https://{host_name(k)}/", host_name(k), f"col{k:02d}")
            for k in range(self.spec.n_hosts)
        ]

    def articles(self, k: int, day: int | None = None) -> range:
        return range(listed(self.spec, self.counts[k], self.day if day is None else day))

    def is_wire(self, k: int, i: int) -> bool:
        return i >= self.counts[k] and unit(self.seed, "wire", k, i) < self.spec.wire_share

    def pixel_source(self, k: int, i: int, j: int) -> tuple[int, int, int]:
        """The (host, article, figure) whose pixels image (k, i, j) shows.
        A wire photo's figure 0 shows figure 0 of a day-0 article on another
        host that is fetched ok."""
        if j or not self.is_wire(k, i):
            return (k, i, j)
        for attempt in range(1000):
            k2 = stable_hash(self.seed, "wk", k, i, attempt) % self.spec.n_hosts
            i2 = stable_hash(self.seed, "wi", k, i, attempt) % self.counts[k2]
            if k2 != k and article_fate(self.seed, self.spec, k2, i2) == "ok":
                return (k2, i2, 0)
        raise RuntimeError("no wire-photo source found")

    # -- page bodies ------------------------------------------------------------
    def robots_txt(self) -> str:
        return "User-agent: *\nDisallow: /intern/\nAllow: /\n"

    def listing_html(self, k: int) -> str:
        host = host_name(k)
        rows = ['<a href="javascript:void(0)">Menü</a>', '<a href="#">nach oben</a>']
        for i in reversed(self.articles(k)):  # newest first, old anchors stay
            p = article_path(self.seed, self.spec, k, i)
            cls = ("teaser-link", "headline-link", "article__link")[i % 3]
            title = " ".join(self._words("title", k, i, 5)).capitalize()
            rows.append(f'<a class="{cls}" href="{p}">{title}</a>')
        rows.append('<a href="mailto:redaktion@example.de">Kontakt</a>')
        return f"<html><head><title>{host}</title></head><body>\n" + "\n".join(rows) + "\n</body></html>"

    def article_html(self, k: int, i: int) -> str:
        s = self.spec
        h = stable_hash(self.seed, "meta", k, i)
        paras = "".join(
            "<p>" + " ".join(self._words("p", k, i, s.words_per_para, p)) + "</p>"
            for p in range(s.paras)
        )
        figs = "".join(
            f'<figure><img src="/img/{i}_{j}.png" alt="Foto {i}.{j}">'
            f"<figcaption>Bild {i}.{j}</figcaption></figure>"
            for j in range(n_figures(self.seed, s, k, i))
        )
        title = " ".join(self._words("title", k, i, 5)).capitalize()
        return (
            f'<html><head><meta name="author" content="Autorin {h % 97}">'
            f'<meta name="description" content="{title}."></head><body>'
            f'<time datetime="2026-{h % 12 + 1:02d}-{h % 28 + 1:02d}T{h % 24:02d}:00:00">'
            "heute</time>"
            f'<span class="headline typo-r-topline-detail">{CATEGORIES[h % len(CATEGORIES)]}</span>'
            f"<h1>{title}</h1>"
            f'<div class="article__body">{paras}{figs}</div></body></html>'
        )

    def image_png(self, k: int, i: int, j: int) -> bytes:
        from german_newspaper_crawler_spark.fixtures import make_image
        from german_newspaper_crawler_spark.functions.codec import encode_png

        src = self.pixel_source(k, i, j)
        return encode_png(
            make_image(stable_hash(self.seed, "px", *src) % 2**32, size=self.spec.img_size)
        )

    def _words(self, tag: str, k: int, i: int, n: int, part: int = 0) -> list[str]:
        rng = random.Random(stable_hash(self.seed, tag, k, i, part))
        return rng.choices(WORDS, k=n)


def predict_crawl(web: Web, day_from: int, day_to: int) -> dict:
    """Exact outcome of one ``run_crawl`` that sees the articles listed
    after day ``day_from`` up to day ``day_to`` (a cold crawl is
    ``(-1, 0)``; daily recrawl d is ``(d - 1, d)``): URLs resolved,
    articles and images committed, and the frontier rows per state that
    those articles add (listing rows are counted by the caller)."""
    states = {"fetched": 0, "failed": 0, "blocked": 0, "skipped": 0}
    articles = images = image_fetches = 0
    s = web.spec
    for k in range(s.n_hosts):
        lo = 0 if day_from < 0 else listed(s, web.counts[k], day_from)
        for i in range(lo, listed(s, web.counts[k], day_to)):
            fate = article_fate(web.seed, s, k, i)
            if fate == "blocked":
                states["blocked"] += 1
                continue
            articles += 1
            if fate != "ok":
                states["failed"] += 1
                continue
            states["fetched"] += 1
            nf = n_figures(web.seed, s, k, i)
            image_fetches += nf
            images += nf - web.is_wire(k, i)
    states["fetched"] += image_fetches
    return {
        "urls": s.n_hosts + articles + states["blocked"] + image_fetches,
        "articles": articles, "images": images, "frontier": states,
    }


# --- the corpus -----------------------------------------------------------------

# CorpusSpec's shape is measured on the 5,000 documents of the sf0.1
# test data set (documents.parquet): word counts spread evenly over 10-100
# (each tenth of that range holds 10-12 % of the docs), 20 sources, 8 docs
# (0.16 %) are exact copies of another, and 236 more (4.7 %) are near
# copies: every near pair there is a doc with one trailing word appended or
# dropped, which keeps the first three tokens (the exact-dedup signature).
# Half the near copies here edit the leading word instead (lead_edit_share).
# The text itself is not sf0.1's 31-word token soup but German-like, as the
# workload asks, with a vocabulary large enough that unrelated documents
# share no 3-word shingle in practice.


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int = 6000
    n_sources: int = 20
    exact_share: float = 0.0016  # docs that are exact copies of an original
    near_share: float = 0.047  # docs that are one-word edits of one
    # near copies that prepend a word instead of appending or dropping the
    # last one (chosen, not measured): their signature differs from the
    # original's, so curation_pipeline's connected components get edges
    lead_edit_share: float = 0.5
    min_words: int = 10  # word count uniform on [min_words, max_words]
    max_words: int = 100


def _doc_words(rng: random.Random, n: int) -> list[str]:
    # a large synthetic vocabulary (stems × suffixes) keeps chance 3-word
    # shingle overlap between unrelated documents negligible
    return [
        rng.choice(WORDS) + rng.choice(("", "en", "er", "es", "ung", "heit", "lich", "te"))
        + (str(rng.randrange(50)) if rng.random() < 0.3 else "")
        for _ in range(n)
    ]


def make_corpus(seed: int, spec: CorpusSpec) -> tuple[list[tuple], list[int]]:
    """Rows ``(doc_id, text, lang, source, n_chars)`` and, per doc, the
    doc_id of the original it copies (itself for originals).

    Each original opens with a unique title token, so no two clusters (an
    original and its copies) share an exact-signature (first three tokens).
    An exact copy repeats the text; a near copy prepends a word, appends
    one or, when the original has more than ``min_words`` words, drops the
    last one. Every pair inside a cluster then has 3-shingle Jaccard of at
    least 0.8, far above the jobs' 0.5 threshold.
    """
    rng = random.Random(stable_hash(seed, "corpus"))
    n_exact = round(spec.n_docs * spec.exact_share)
    n_near = round(spec.n_docs * spec.near_share)
    n_orig = spec.n_docs - n_exact - n_near
    texts: list[list[str]] = []
    for d in range(n_orig):
        n = rng.randint(spec.min_words, spec.max_words)
        texts.append([f"Titel{d}x{rng.randrange(10**6)}"] + _doc_words(rng, n - 1))
    origin = list(range(n_orig))
    for _ in range(n_exact):
        o = rng.randrange(n_orig)
        texts.append(list(texts[o]))
        origin.append(o)
    for _ in range(n_near):
        o = rng.randrange(n_orig)
        t = texts[o]
        u = rng.random()
        if u < spec.lead_edit_share:
            texts.append(_doc_words(rng, 1) + t)
        elif len(t) > spec.min_words and u < (1 + spec.lead_edit_share) / 2:
            texts.append(t[:-1])
        else:
            texts.append(t + _doc_words(rng, 1))
        origin.append(o)
    # shuffle doc ids so copies are not clustered after their originals
    order = list(range(len(texts)))
    rng.shuffle(order)
    rows, origin_by_id = [], []
    new_id = {old: new for new, old in enumerate(order)}
    for new, old in enumerate(order):
        text = " ".join(texts[old])
        rows.append((new, text, "de", f"src{new % spec.n_sources}", len(text)))
        origin_by_id.append(new_id[origin[old]])
    return rows, origin_by_id


def predict_corpus(rows: list[tuple], origin: list[int]) -> dict:
    """Exact outputs of the three registry jobs on the corpus.

    * ``dedup_exact``: one row per distinct signature, ``n_dups`` summing
      to the doc count;
    * ``dedup_ngram_jaccard``: every pair inside a cluster (an original with
      its copies) and no pair across clusters;
    * ``curation_pipeline``: one keeper per cluster, the smallest doc_id,
      counted by that doc's source.
    """
    clusters: dict[int, list[int]] = {}
    for doc_id, o in enumerate(origin):
        clusters.setdefault(o, []).append(doc_id)
    curated: dict[str, int] = {}
    for members in clusters.values():
        src = rows[min(members)][3]
        curated[src] = curated.get(src, 0) + 1
    return {
        "exact_groups": len({tuple(r[1].split()[:3]) for r in rows}),
        "exact_docs": len(rows),
        "jaccard_pairs": sum(len(m) * (len(m) - 1) // 2 for m in clusters.values()),
        "curated": curated,
    }
