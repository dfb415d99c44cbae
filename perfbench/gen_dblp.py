"""Seeded DBLP person-page generator and its pure-Python ground truth.

The generator models a small bibliography: researchers (who own person
pages), external co-authors (who do not), and papers whose authors are
drawn Zipf by rank.  Every paper is rendered, byte-identically, on the
page of each researcher who co-authored it, so the engine's key dedup
has real work and its result does not depend on which copy survives.

Pages cover every tag the parser dispatches on, wrapped and bare
records, a ``coauthors`` block, keyless records, 0-2 ``ee`` links,
every publisher fallback (journal, booktitle, publisher, none), editors
counted as authors, a few pid-less authors, and pids that are string
prefixes of other pids.  About 1 % of researchers have no page at the
origin, so their fetch raises and is staged as an error body.

Everything the checker compares against is computed here from the
model, never from the engine's output.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import os
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field, replace
from urllib.parse import quote
from xml.sax.saxutils import escape, quoteattr

URL_PREFIX = "https://dblp.org/pid/"

# (tag, first key segment, venue field) — the category the engine
# derives is the first key segment minus its last letter.
TAG_SHAPES = (
    ("article", "journals", "journal"),
    ("inproceedings", "conf", "booktitle"),
    ("proceedings", "conf", "publisher"),
    ("book", "books", "publisher"),
    ("incollection", "books", "booktitle"),
    ("phdthesis", "phd", None),
    ("masterthesis", "phd", None),
    ("mastersthesis", "phd", None),
    ("data", "data", "publisher"),
)
TAG_WEIGHTS = (40, 40, 3, 3, 5, 2, 1, 1, 5)
AUTHOR_COUNT_WEIGHTS = (10, 25, 25, 18, 12, 6, 4)  # 1..7 authors, per 100 papers
YEARS = tuple(range(2005, 2024))
RECORDS_PER_PAGE = 36  # mean paper records on a researcher's page
# A weekly delta re-fetches this share of the researchers' pages, adds
# new papers and retracts papers at these shares of those pages' papers.
DELTA_SHARE, DELTA_NEW_SHARE, DELTA_RETRACT_SHARE = 0.05, 0.01, 0.005
NAME_STEMS = ("Ann Lee", "José Núñez", "A/B Chen", "x_y Tan", "Müller", "Ng")


@dataclass(frozen=True)
class Author:
    pid: str | None
    name: str
    orcid: str | None
    editor: bool


@dataclass(frozen=True)
class Paper:
    key: str
    tag: str
    title: str
    year: int | None
    authors: tuple[Author, ...]
    venue_field: str | None
    venue: str | None
    volume: str | None
    number: str | None
    pages: str | None
    ee: tuple[str, ...]
    url: str | None
    crossref: str | None
    mdate: str
    wrapped: bool

    @property
    def category(self) -> str:
        seg = self.key.split("/", 1)[0]
        return seg[:-1]

    @property
    def pids(self) -> list[str]:
        return [a.pid for a in self.authors if a.pid is not None]


@dataclass
class Researcher:
    pid: str
    name: str
    reachable: bool  # False: the origin has no page, the fetch raises


@dataclass
class World:
    """The generated bibliography at one point in time."""

    researchers: list[Researcher]
    papers: dict[str, Paper]
    by_researcher: dict[str, set[str]] = field(default_factory=dict)

    def index(self) -> None:
        rpids = {r.pid for r in self.researchers}
        self.by_researcher = defaultdict(set)
        for p in self.papers.values():
            for pid in p.pids:
                if pid in rpids:
                    self.by_researcher[pid].add(p.key)

    def reachable_pids(self) -> set[str]:
        return {r.pid for r in self.researchers if r.reachable}


def _pid(i: int) -> str:
    # "7/57" is a string prefix of "7/5707": exact-pid semantics matter.
    return f"{i % 50}/{i}"


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** s
        out.append(acc)
    return out


def _draw(rng: random.Random, cdf: list[float]) -> int:
    return bisect.bisect_left(cdf, rng.random() * cdf[-1])


class DblpGenerator:
    """Seeded bibliography: ``world()`` builds the initial state and
    ``delta()`` advances it by one weekly snapshot."""

    def __init__(self, seed: int, n_researchers: int):
        self.rng = random.Random(seed)
        self.n_researchers = n_researchers
        self.zipf = _zipf_cdf(n_researchers, 0.9)
        self.n_external = 2 * n_researchers
        self._serial = itertools.count()
        self._author_counts = self._shuffled_cycle(
            [k for k, w in enumerate(AUTHOR_COUNT_WEIGHTS, 1) for _ in range(w)])

    def _shuffled_cycle(self, items: list):
        """Endless draws that take every item of ``items`` once per round,
        so sizes stay the same from seed to seed while order varies."""
        while True:
            order = items[:]
            self.rng.shuffle(order)
            yield from order

    # -- population -------------------------------------------------------

    def _researchers(self) -> list[Researcher]:
        rng = self.rng
        out = []
        for i in range(self.n_researchers):
            # names carry spaces, "/", "_" and non-ASCII letters, which the
            # staging filenames must encode
            name = f"{NAME_STEMS[i % len(NAME_STEMS)]} {i}"
            out.append(Researcher(_pid(1000 + i), name, True))
        # rank order is the Zipf order; shuffle so rank is not pid order
        rng.shuffle(out)
        # 1 % of pages are unreachable, drawn outside the top decile of
        # ranks so one lost page never removes a large share of the data
        for r in rng.sample(out[self.n_researchers // 10:], max(1, self.n_researchers // 100)):
            r.reachable = False
        return out

    def _author(self, researchers: list[Researcher], taken: set[str]) -> Author:
        rng = self.rng
        for _ in range(20):
            if rng.random() < 0.55:
                r = researchers[_draw(rng, self.zipf)]
                pid, name = r.pid, r.name
            else:
                j = rng.randrange(self.n_external)
                pid, name = _pid(100_000 + j), f"Ext Author {j}"
            if pid not in taken:
                break
        taken.add(pid)
        orcid = f"0000-0002-{hash_int(pid) % 10000:04d}" if rng.random() < 0.3 else None
        if rng.random() < 0.01:
            pid = None  # DBLP occasionally lists an author without a pid
        return Author(pid, name, orcid, False)

    def _paper(self, researchers: list[Researcher], owner: Researcher) -> Paper:
        rng = self.rng
        tag, seg, venue_field = rng.choices(TAG_SHAPES, TAG_WEIGHTS)[0]
        n = next(self._serial)
        year = rng.choice(YEARS)
        venue = f"v{rng.randrange(60)}"
        key = f"{seg}/{venue}/P{n}" if seg != "phd" else f"phd/P{n}"
        k = next(self._author_counts)
        taken = {owner.pid}
        authors = [Author(owner.pid, owner.name, None, False)]
        authors += [self._author(researchers, taken) for _ in range(k - 1)]
        rng.shuffle(authors)
        if tag == "proceedings":
            authors = [replace(a, editor=True) for a in authors]
        elif tag == "book" and rng.random() < 0.5:
            authors = [replace(a, editor=True) if i == 0 else a for i, a in enumerate(authors)]
        # publisher fallback: a record may carry none of its venue fields
        has_venue = venue_field is not None and rng.random() < 0.9
        n_ee = rng.choices((0, 1, 2), (20, 60, 20))[0]
        return Paper(
            key=key,
            tag=tag,
            title=f"On {venue} & method {n} <{rng.randrange(1000)}>",
            year=year,
            authors=tuple(authors),
            venue_field=venue_field if has_venue else None,
            venue=f"Venue {venue}" if has_venue else None,
            volume=str(rng.randrange(1, 60)) if tag == "article" else None,
            number=str(rng.randrange(1, 12)) if tag == "article" else None,
            pages=f"{rng.randrange(1, 400)}-{rng.randrange(400, 800)}" if rng.random() < 0.7 else None,
            ee=tuple(f"https://doi.org/10.{n}/{i}" for i in range(n_ee)),
            url=f"db/{seg}/{venue}.html#P{n}" if rng.random() < 0.8 else None,
            crossref=f"conf/{venue}/{year}" if tag == "inproceedings" and rng.random() < 0.5 else None,
            mdate=f"{year}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
            wrapped=rng.random() < 0.9,
        )

    def _homepage(self, r: Researcher) -> Paper:
        # The person's own www record: no year, category "homepage".
        return Paper(
            key=f"homepages/{r.pid}", tag="www", title=None, year=None,
            authors=(Author(r.pid, r.name, None, False),), venue_field=None,
            venue=None, volume=None, number=None, pages=None, ee=(), url=None,
            crossref=None, mdate="2021-01-01", wrapped=True,
        )

    def world(self) -> World:
        researchers = self._researchers()
        papers: dict[str, Paper] = {}
        for r in researchers:
            papers[f"homepages/{r.pid}"] = self._homepage(r)
        # Papers until the pages hold RECORDS_PER_PAGE records on average;
        # each paper's owner is a Zipf-drawn researcher.
        rpids = {r.pid for r in researchers}
        records = 0
        while records < self.n_researchers * RECORDS_PER_PAGE:
            owner = researchers[_draw(self.rng, self.zipf)]
            p = self._paper(researchers, owner)
            papers[p.key] = p
            records += sum(pid in rpids for pid in p.pids)
        w = World(researchers, papers)
        w.index()
        return w

    def delta(self, world: World) -> tuple[World, list[Researcher]]:
        """One weekly delta: a fresh snapshot of ``DELTA_SHARE`` of the
        reachable researchers' pages, adding ``DELTA_NEW_SHARE`` new
        papers and retracting ``DELTA_RETRACT_SHARE`` of those pages'
        papers.  Returns the next world and the researchers whose pages
        changed."""
        rng = self.rng
        pool = [r for r in world.researchers if r.reachable]
        k = max(1, int(len(world.researchers) * DELTA_SHARE))
        chosen = rng.sample(pool, min(k, len(pool)))
        scope_keys = sorted(set().union(*(world.by_researcher[r.pid] for r in chosen)))
        papers = dict(world.papers)
        retractable = [key for key in scope_keys if not key.startswith("homepages/")]
        n_retract = max(1, round(len(scope_keys) * DELTA_RETRACT_SHARE))
        for key in rng.sample(retractable, min(n_retract, len(retractable))):
            del papers[key]
        n_new = max(1, round(len(scope_keys) * DELTA_NEW_SHARE))
        for _ in range(n_new):
            p = self._paper(world.researchers, rng.choice(chosen))
            papers[p.key] = p
        nxt = World(world.researchers, papers)
        nxt.index()
        return nxt, chosen


def hash_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


# -- rendering ------------------------------------------------------------


def _render_paper(p: Paper) -> str:
    attrs = f"key={quoteattr(p.key)} mdate={quoteattr(p.mdate)}"
    parts = [f"<{p.tag} {attrs}>"]
    for a in p.authors:
        el = "editor" if a.editor else "author"
        at = "" if a.pid is None else f" pid={quoteattr(a.pid)}"
        at += "" if a.orcid is None else f" orcid={quoteattr(a.orcid)}"
        parts.append(f"<{el}{at}>{escape(a.name)}</{el}>")
    if p.title is not None:
        parts.append(f"<title>{escape(p.title)}</title>")
    if p.year is not None:
        parts.append(f"<year>{p.year}</year>")
    for tag, val in (("volume", p.volume), ("number", p.number), ("pages", p.pages)):
        if val is not None:
            parts.append(f"<{tag}>{escape(val)}</{tag}>")
    if p.venue_field is not None:
        parts.append(f"<{p.venue_field}>{escape(p.venue)}</{p.venue_field}>")
    parts += [f"<ee>{escape(e)}</ee>" for e in p.ee]
    if p.url is not None:
        parts.append(f"<url>{escape(p.url)}</url>")
    if p.crossref is not None:
        parts.append(f"<crossref>{escape(p.crossref)}</crossref>")
    parts.append(f"</{p.tag}>")
    body = "".join(parts)
    return f"<r>{body}</r>" if p.wrapped else body


def render_page(world: World, r: Researcher) -> str:
    keys = sorted(world.by_researcher.get(r.pid, ()))
    papers = [world.papers[k] for k in keys]
    co = sorted({a.name for p in papers for a in p.authors if a.pid != r.pid})[:20]
    lines = [
        '<?xml version="1.0"?>',
        f"<dblpperson name={quoteattr(r.name)} pid={quoteattr(r.pid)} n=\"{len(papers)}\">",
        "<coauthors>" + "".join(f"<co><na>{escape(c)}</na></co>" for c in co) + "</coauthors>",
    ]
    lines += [_render_paper(p) for p in papers]
    # a keyless record: the parser must skip it
    lines.append(f"<r><article mdate=\"2022-01-01\"><title>Untitled {escape(r.pid)}</title></article></r>")
    lines.append("</dblpperson>")
    return "\n".join(lines) + "\n"


def origin_filename(pid: str) -> str:
    return quote(pid, safe="") + ".xml"


def write_origin(world: World, origin_dir: str, researchers: list[Researcher] | None = None) -> int:
    """Write the person pages the fetch transport serves; unreachable
    researchers get no file.  Returns the bytes written."""
    os.makedirs(origin_dir, exist_ok=True)
    total = 0
    for r in researchers if researchers is not None else world.researchers:
        path = os.path.join(origin_dir, origin_filename(r.pid))
        if not r.reachable:
            if os.path.exists(path):
                os.remove(path)
            continue
        data = render_page(world, r).encode()
        with open(path, "wb") as f:
            f.write(data)
        total += len(data)
    return total


def origin_transport(origin_dir: str):
    """The injected fetch transport: serves ``origin_dir`` files by pid
    and raises for a pid with no page, like an HTTP 404."""

    def fetch(url: str) -> bytes:
        from urllib.parse import quote as q

        pid = url[len(URL_PREFIX):-len(".xml")]
        try:
            with open(os.path.join(origin_dir, q(pid, safe="") + ".xml"), "rb") as f:
                return f.read()
        except FileNotFoundError:
            raise OSError(f"404 Not Found for pid {pid}") from None

    return fetch


# -- ground truth ---------------------------------------------------------


def visible_papers(world: World, fetched: set[str]) -> dict[str, Paper]:
    """Papers the pipeline can see: those on at least one page that was
    fetched successfully (``fetched`` = pids whose fetch succeeded)."""
    return {k: p for k, p in world.papers.items() if any(pid in fetched for pid in p.pids)}


def pub_row(p: Paper) -> tuple:
    """One publications row as the checker compares it."""
    authors = tuple((i + 1, a.pid) for i, a in enumerate(p.authors))
    return (p.key, p.year, p.category, p.venue, authors, p.ee, p.mdate)


def pair_counts(papers) -> Counter:
    """Exact co-author pair-count fact: (year, author1, author2) → count."""
    out: Counter = Counter()
    for p in papers:
        pids = sorted(set(p.pids))
        for a, b in itertools.combinations(pids, 2):
            out[(p.year, a, b)] += 1
    return out


def contains_answer(papers, year: int, category: str, pid: str) -> list[str]:
    return sorted(p.key for p in papers if p.year == year and p.category == category and pid in p.pids)


def q1_answer(papers, pid: str, n: int, years) -> int:
    ys = set(years)
    return sum(
        1 for p in papers
        if p.year in ys and len(p.authors) >= n and p.authors[n - 1].pid == pid
    )


def collab_answer(papers, pid: str) -> dict[str, int]:
    out: Counter = Counter()
    for p in papers:
        pids = set(p.pids)
        if pid in pids:
            for other in pids - {pid}:
                out[other] += 1
    return dict(out)
