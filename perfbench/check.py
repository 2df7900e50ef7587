"""Correctness check of a finished crawl against the generated gold.

The checker works on plain Python values collected from the committed
tables (:class:`Outputs`), so a mutation check can corrupt a copy of
them without touching Spark.

* Every committed article's ``text`` must be byte-identical to the gold
  text fixed at generation, and every successfully fetched page must
  have exactly one article (malformed pages land in ``failures``).
* ``fat_single_round``: the crawl-ordering trace ``(round, host,
  host_rank, url)`` and the seen set must equal :func:`crawl_oracle`, a
  reference-faithful Python crawl.
* ``discovery_restart``: no URL is fetched twice, the crawl reaches
  exactly the pages reachable from the seeds around the pre-seen ones,
  and the seen set is the pre-seen keys plus every fetched URL.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass

from corpus import Corpus, host_of, url_key


@dataclass
class Outputs:
    """The committed state of one crawl, as Python values."""

    articles: list[tuple[str, str]]          # (url, text)
    failures: list[tuple[str, str]]          # (url, reason)
    trace: list[tuple[int, str, int, str]]   # (round, host, host_rank, url)
    seen: list[str]                          # url_sha1

    @classmethod
    def collect(cls, job) -> "Outputs":
        spark = job.spark
        return cls(
            [(r[0], r[1]) for r in
             job.articles.read(spark).select("url", "text").collect()],
            [(r[0], r[1]) for r in
             job.failures.read(spark).select("url", "reason").collect()],
            [tuple(r) for r in job.trace.read(spark).select(
                "round", "host", "host_rank", "url").collect()],
            [r[0] for r in job.seen.read(spark).select("url_sha1").collect()],
        )


def _winners(corpus: Corpus) -> dict[str, tuple]:
    """url -> (crawl_rank, page, line_no) of its 200 + html capture."""
    rank = {c: i for i, c in enumerate(corpus.crawl_order)}
    out = {}
    for r in corpus.cdx.itertuples(index=False):
        if r.status == "200" and r.mime_detected == "text/html":
            out[r.url] = (rank[r.crawl], int(r.page), int(r.line_no))
    return out


def crawl_oracle(corpus: Corpus) -> tuple[set, set]:
    """(trace set, seen key set) of a CDX-seeded crawl without fetch
    failures.

    Per round, each host takes its top ``budget`` frontier rows by
    (crawl_rank, page, line_no, url_sha1); every fetched URL enters the
    seen set, whether its page extracts or not."""
    budget = corpus.job_args["budget_per_host"]
    frontier = sorted((p + (url_key(u),), host_of(u), u)
                      for u, p in _winners(corpus).items())
    trace = set()
    rnd = 0
    while frontier:
        taken: dict[str, int] = {}
        remaining = []
        for prio, host, url in frontier:
            rank = taken.get(host, 0) + 1
            if rank <= budget:
                taken[host] = rank
                trace.add((rnd, host, rank, url))
            else:
                remaining.append((prio, host, url))
        frontier = remaining
        rnd += 1
    return trace, {url_key(u) for _, _, _, u in trace}


def reachable(corpus: Corpus) -> set[str]:
    """Pages a link-following crawl from the seeds must fetch: BFS over
    the links of well-formed pages, never entering pre-seen pages."""
    preseen = set(corpus.seen_keys)
    todo = deque(u for u in corpus.seed_urls if url_key(u) not in preseen)
    found = set(todo)
    while todo:
        u = todo.popleft()
        if corpus.gold_text.get(u) is None:
            continue  # malformed page: no links to follow
        for v in corpus.links[u]:
            if v not in found and url_key(v) not in preseen:
                found.add(v)
                todo.append(v)
    return found


def check(corpus: Corpus, out: Outputs, oracle=None) -> list[str]:
    """Every violated property, as one line each; empty when correct.

    ``oracle`` is :func:`crawl_oracle`'s result, passed in so repeated
    crawls of one corpus compute it once."""
    errors = []
    fetched_urls = [u for _, _, _, u in out.trace]
    if corpus.links:
        want_fetched = reachable(corpus)
        dup = len(fetched_urls) - len(set(fetched_urls))
        if dup:
            errors.append(f"trace: {dup} URLs fetched more than once")
        if set(fetched_urls) != want_fetched:
            errors.append(
                f"trace: fetched {len(set(fetched_urls))} URLs, "
                f"{len(want_fetched)} reachable, "
                f"{len(set(fetched_urls) ^ want_fetched)} differ")
        want_seen = set(corpus.seen_keys) | {url_key(u) for u in fetched_urls}
    else:
        want_trace, want_seen = oracle or crawl_oracle(corpus)
        got_trace = set(out.trace)
        if len(got_trace) != len(out.trace):
            errors.append("trace: duplicate rows")
        if got_trace != want_trace:
            errors.append(
                f"trace: {len(want_trace - got_trace)} oracle rows missing, "
                f"{len(got_trace - want_trace)} unexpected")
        want_fetched = {u for _, _, _, u in want_trace}
    if set(out.seen) != want_seen or len(out.seen) != len(want_seen):
        errors.append(
            f"seen: {len(want_seen - set(out.seen))} keys missing, "
            f"{len(set(out.seen) - want_seen)} unexpected, "
            f"{len(out.seen) - len(set(out.seen))} duplicated")

    want_ok = {u for u in want_fetched if corpus.gold_text[u] is not None}
    got = {}
    for url, text in out.articles:
        if url in got:
            errors.append(f"articles: {url} committed twice")
        got[url] = text
    if set(got) != want_ok:
        errors.append(f"articles: {len(want_ok - set(got))} missing, "
                      f"{len(set(got) - want_ok)} unexpected")
    bad = [u for u, t in got.items() if u in want_ok
           and t != corpus.gold_text[u]]
    if bad:
        errors.append(f"articles: {len(bad)} texts differ from gold, "
                      f"e.g. {bad[0]}")
    want_failed = want_fetched - want_ok
    got_failed = [u for u, _ in out.failures]
    if set(got_failed) != want_failed or len(got_failed) != len(want_failed):
        errors.append(f"failures: {len(got_failed)} rows, "
                      f"{len(want_failed)} expected")
    return errors


def mutation_check(corpus: Corpus, out: Outputs, oracle=None) -> list[str]:
    """Corrupt one article's text and drop one trace row in a copy of
    ``out``; :func:`check` must report both. Returns one line per
    mutation it missed."""
    if not out.articles or not out.trace:
        return ["mutation: no article or trace row to mutate"]
    (url, text), *rest = out.articles
    bad = Outputs([(url, text + "!")] + rest, list(out.failures),
                  out.trace[1:], list(out.seen))
    errors = check(corpus, bad, oracle)
    missed = []
    if not any("texts differ from gold" in e for e in errors):
        missed.append("mutation: corrupted article text not reported")
    if not any(e.startswith("trace:") for e in errors):
        missed.append("mutation: dropped trace row not reported")
    return missed
