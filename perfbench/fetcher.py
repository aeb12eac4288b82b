"""The benchmark's fetcher: a deterministic, zero-latency stand-in for the
network, keyed on ``(seed, url)``. It satisfies the library's fetcher
contract ``url -> (status, html, content_bytes | None)`` and runs inside
the Python workers of the fetch stages.
"""

from __future__ import annotations

import time

from perfbench.synth import Web


class FetchError(ConnectionError):
    """A planted fetch failure (the library turns it into status 0)."""


class SynthFetcher:
    """Serves :class:`synth.Web` pages. With ``accumulators`` (traced runs
    only) it adds its own busy seconds, call count and planted failures to
    Spark accumulators ``{"busy_s", "calls", "5xx", "exc", "robots"}`` so the harness
    cost can be subtracted from the fetch stages."""

    def __init__(self, web: Web, accumulators: dict | None = None):
        self.web = web
        self.acc = accumulators

    def __call__(self, url: str):
        if self.acc is None:
            return self._serve(url)
        t0 = time.perf_counter()
        try:
            out = self._serve(url)
        except FetchError:
            self.acc["exc"].add(1)
            raise
        finally:
            self.acc["busy_s"].add(time.perf_counter() - t0)
            self.acc["calls"].add(1)
        if out[0] >= 500:
            self.acc["5xx"].add(1)
        return out

    def _serve(self, url: str):
        from perfbench.synth import article_fate, n_figures

        web = self.web
        rest = url.split("://", 1)[1]
        host, _, path = rest.partition("/")
        k = web.host_index.get(host)
        if k is None:
            return 404, "", None
        path = "/" + path
        if path == "/":
            return 200, web.listing_html(k), None
        if path == "/robots.txt":
            if self.acc is not None:
                self.acc["robots"].add(1)
            return 200, web.robots_txt(), None
        if path.startswith(("/artikel/a", "/intern/a")):
            i = int(path.rsplit("/a", 1)[1])
            if i >= len(web.articles(k)):
                return 404, "", None
            fate = article_fate(web.seed, web.spec, k, i)
            if fate == "5xx":
                return 503, "Service Unavailable", None
            if fate == "exc":
                raise FetchError(f"planted connection reset: {url}")
            return 200, web.article_html(k, i), None
        if path.startswith("/img/") and path.endswith(".png"):
            i, j = (int(x) for x in path[5:-4].split("_"))
            if i >= len(web.articles(k)) or j >= n_figures(web.seed, web.spec, k, i):
                return 404, "", None
            return 200, "", web.image_png(k, i, j)
        return 404, "", None
