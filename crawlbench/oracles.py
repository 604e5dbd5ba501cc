"""Expected crawl outputs computed without the crawl engine.

``crawl_oracle`` replays, in plain Python over the corpus parquet, the
crawl semantics documented in ``engine.py`` and
``operators/politeness.py``, canonicalizing links with
``urlnorm.clean_links`` (the pure function the engine wraps in a pandas
UDF):

* seeds are lowercased; a sitemap's root is its smallest seed URL;
* each round dequeues, per (sitemap, host), the ``budget`` frontier rows
  first in URL order (every priority here is 0.0); the rest carry over;
* dequeued pages are visited before they are fetched; a page whose
  corpus row is missing or has status != 200 has no links; otherwise
  its deduplicated ``clean_links(out_links, root, final_url)`` are its
  edges, including links to the depth horizon;
* a link becomes a candidate at the page's depth + 1 when that is below
  ``max_depth``; duplicates within a round keep the smallest depth, and
  candidates already visited or still in the frontier are dropped.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from sitemapper_spark.urlnorm import clean_links, host_of


def load_pages(corpus_dir: str) -> dict[str, tuple]:
    """url -> (status, final_url, out_links) of a corpus parquet."""
    t = pq.read_table(corpus_dir, columns=["url", "status", "final_url", "out_links"])
    return {
        u: (s, f, ls)
        for u, s, f, ls in zip(
            t.column("url").to_pylist(), t.column("status").to_pylist(),
            t.column("final_url").to_pylist(), t.column("out_links").to_pylist(),
        )
    }


def crawl_oracle(
    pages: dict[str, tuple], seeds: list[tuple[str, str, int, float]],
    budget: int | None,
) -> tuple[list, list]:
    """(visited, edges) rows of a crawl: ``(sitemap_id, url, depth,
    round)`` and ``(sitemap_id, src, dst, depth, round)``. ``seeds`` rows
    are ``(url, sitemap_id, max_depth, priority)`` with equal priorities."""
    root: dict[str, str] = {}
    max_depth: dict[str, int] = {}
    for url, sid, md, _ in seeds:
        root[sid] = min(root.get(sid, url.lower()), url.lower())
        max_depth[sid] = max(max_depth.get(sid, md), md)
    frontier = {(sid, url.lower()): 0 for url, sid, _, _ in seeds if max_depth[sid] > 0}
    visited, edges, seen_visited = [], [], set()
    rnd = 0
    while frontier:
        by_host: dict[tuple, list] = {}
        for (sid, url), depth in frontier.items():
            by_host.setdefault((sid, host_of(url)), []).append((url, depth))
        dequeued, carry = [], {}
        for (sid, _), rows in by_host.items():
            rows.sort()
            take = rows if budget is None else rows[:budget]
            dequeued += [(sid, u, d) for u, d in take]
            carry.update({(sid, u): d for u, d in rows[len(take):]})
        candidates: dict[tuple, int] = {}
        for sid, url, depth in dequeued:
            visited.append((sid, url, depth, rnd))
            seen_visited.add((sid, url))
            status, final_url, links = pages.get(url, (None, None, None))
            if status != 200 or not links:
                continue
            for dst in dict.fromkeys(clean_links(list(links), root[sid], final_url)):
                edges.append((sid, url, dst, depth, rnd))
                if depth + 1 < max_depth[sid]:
                    key = (sid, dst)
                    candidates[key] = min(candidates.get(key, depth + 1), depth + 1)
        frontier = carry
        for key, depth in candidates.items():
            if key not in seen_visited and key not in carry:
                frontier[key] = depth
        rnd += 1
    return visited, edges
