"""Seeded synthetic web site served through an in-process ``fetch_fn``.

The crawl workload never touches the network: the program receives only
the start URL and the ``fetch_fn`` object built here (``SiteFetch``),
which Spark ships to its Python workers (run.py registers this module
for pickle-by-value, so workers need not import it).

Shape: page ``i`` links to its ``fanout`` children ``fanout*i+1 ..``
(a BFS tree, so every page is reachable and the crawl takes about
``log_fanout(n_pages)`` generations), to ``BACKLINKS`` random earlier
pages (rediscoveries the visited-set subtraction must drop), and every
``FILE_EVERY``-th page links one ``.txt`` document (the file-ingest
stream).  ``version`` selects which pages carry edited text: pages in
``changed`` serve different words at version 1, so a re-crawl upserts
exactly those.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field

_WORDS = (
    "crawl page site link store merge hash text index query batch stream "
    "value table order filter join window shard frontier snapshot worker "
    "release corpus token vector record upsert fetch extract parse domain"
).split()


BACKLINKS = 2  # random links from each page to earlier pages
FILE_EVERY = 25  # every 25th page links one .txt document
WORDS_PER_PAGE = 120


@dataclass(frozen=True)
class Site:
    seed: int
    n_pages: int
    fanout: int
    changed: frozenset = field(default_factory=frozenset)

    @property
    def domain(self) -> str:
        return f"site{self.seed}.bench"

    def url(self, i: int) -> str:
        return f"http://{self.domain}/p{i}.html"

    def file_url(self, j: int) -> str:
        return f"http://{self.domain}/f{j}.txt"

    @property
    def n_files(self) -> int:
        return len(range(0, self.n_pages, FILE_EVERY))

    def _text(self, key: str, n_words: int) -> str:
        rng = random.Random(f"{self.seed}:{key}")
        return " ".join(rng.choice(_WORDS) for _ in range(n_words))

    def page_html(self, i: int, version: int) -> bytes:
        rng = random.Random(f"{self.seed}:links:{i}")
        lo = self.fanout * i + 1
        kids = range(lo, min(lo + self.fanout, self.n_pages))
        back = [rng.randrange(i) for _ in range(BACKLINKS)] if i else []
        hrefs = [self.url(k) for k in (*kids, *back)]
        if i % FILE_EVERY == 0:
            hrefs.append(self.file_url(i // FILE_EVERY))
        edited = version > 0 and i in self.changed
        body = self._text(f"p{i}:{'v1' if edited else 'v0'}", WORDS_PER_PAGE)
        links = "".join(f'<a href="{h}">{h}</a>' for h in hrefs)
        return (
            f"<html><head><title>page {i}</title></head><body>"
            f"<p>{body}</p><div>{links}</div></body></html>"
        ).encode()

    def file_text(self, j: int) -> bytes:
        return self._text(f"f{j}", 2 * WORDS_PER_PAGE).encode()


def make_site(seed: int, n_pages: int, fanout: int, changed_fraction: float) -> Site:
    """Site with exactly ``round(changed_fraction * n_pages)`` pages
    edited at version 1, chosen by the seed."""
    k = round(changed_fraction * n_pages)
    changed = frozenset(random.Random(f"{seed}:changed").sample(range(n_pages), k))
    return Site(seed=seed, n_pages=n_pages, fanout=fanout, changed=changed)


class SiteFetch:
    """FetchFn serving ``site`` at ``version``.

    ``calls`` and ``busy_ms`` are Spark accumulators, set only for the
    traced part of a run; they are updated on the executors, where the
    fetch actually runs.  Spark pickles this object each time a crawl
    plans its fetch stage, so setting them takes effect from the next
    crawl on."""

    def __init__(self, site: Site, version: int) -> None:
        self.site, self.version = site, version
        self.calls = self.busy_ms = None

    def _serve(self, url: str):
        site = self.site
        path = url.rsplit("/", 1)[-1]
        try:
            if path.startswith("p") and path.endswith(".html"):
                i = int(path[1:-5])
                if 0 <= i < site.n_pages:
                    return site.page_html(i, self.version), "text/html; charset=utf-8"
            elif path.startswith("f") and path.endswith(".txt"):
                j = int(path[1:-4])
                if 0 <= j < site.n_files:
                    return site.file_text(j), "text/plain"
        except ValueError:
            pass
        return None, ""

    def __call__(self, url: str):
        if self.calls is None:
            return self._serve(url)
        t0 = time.perf_counter()
        out = self._serve(url)
        self.calls.add(1)
        self.busy_ms.add((time.perf_counter() - t0) * 1e3)
        return out
