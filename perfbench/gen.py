"""Seeded input generators for the benchmark workloads.

Every function is a pure function of its arguments: the same ``seed``
gives byte-identical inputs, so two runs (or two commits) with one seed
measure the same work.  The package under test receives only the
generated frames; it never sees the seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from webindex_spark.operators import synth

N_IMG_HOSTS = 4
ZIPF_A = 1.2  # Zipf exponent of link targets and request keys
HOT_FRAC = 0.1  # share of the crawl world's pages on the hot host 0
RECRAWL_FRAC = 0.5  # share of a stream micro-batch that re-crawls indexed pages
STREAM_FANOUT = 6  # link draws per streamed page
MISS_FRAC = 0.1  # share of serve requests for keys that are not indexed


def _zipf_index(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """Zipf-skewed indices in [0, n): a few targets get most links."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** -ZIPF_A
    p /= p.sum()
    perm = rng.permutation(n)  # which page is popular depends on the seed
    return perm[rng.choice(n, size=size, p=p)]


# ------------------------------------------------------------------ crawl


def crawl_world(seed: int, n_hosts: int = 100, pages_per_host: int = 90,
                fanout: int = 5, n_images: int = 400,
                seeds_per_host: int = 3) -> dict[str, pd.DataFrame]:
    """A crawlable web: ``n_hosts * pages_per_host`` pages plus a hot host 0
    that holds ``HOT_FRAC`` of all pages, each page linking to ``fanout``
    cross-host pages and one image; robots rules come from
    ``operators.synth`` (every 5th host disallows ``/p/4*``).

    Returns pandas frames ``corpus`` (url, uri, host, title, out_urls),
    ``images`` (the synth image table), ``robots`` and ``seeds``
    (url, priority, discovered_epoch)."""
    rng = np.random.default_rng([seed, 1])
    n_base = n_hosts * pages_per_host
    n_hot = int(round(n_base * HOT_FRAC / (1.0 - HOT_FRAC)))
    hosts = np.repeat(np.arange(n_hosts), pages_per_host)
    idx = np.tile(np.arange(pages_per_host), n_hosts)
    hosts = np.concatenate([hosts, np.zeros(n_hot, dtype=hosts.dtype)])
    idx = np.concatenate([idx, pages_per_host + np.arange(n_hot)])
    n = len(hosts)

    targets = rng.integers(0, n, size=(n, fanout))
    img_j = rng.integers(0, n_images // N_IMG_HOSTS, size=n)
    bad = rng.random(n) < 1 / 17  # malformed links exercise URL.isValid
    urls = [synth.page_url(int(k), int(i)) for k, i in zip(hosts, idx)]
    out_urls = []
    for p in range(n):
        out = []
        for t in targets[p]:
            while hosts[t] == hosts[p]:  # cross-host only (ArchiveUtil drops intra-domain)
                t = (t + pages_per_host) % n
            out.append(urls[t])
        if bad[p]:
            out.append("htttp://broken .example/ uh")
        out.append(synth.image_url(int(hosts[p]), int(img_j[p]), N_IMG_HOSTS))
        out_urls.append(out)
    corpus = pd.DataFrame({
        "url": urls,
        "uri": [f"com.h{k}>>o>/p/{i}" for k, i in zip(hosts, idx)],
        "host": [f"h{k}.com" for k in hosts],
        "title": [f"page {k}/{i} s{seed}" for k, i in zip(hosts, idx)],
        "out_urls": out_urls,
    })
    image_ids = sorted({
        synth.image_id_of(k, j, N_IMG_HOSTS)
        for k in range(N_IMG_HOSTS) for j in range(n_images // N_IMG_HOSTS)
    })
    seed_rows = rng.choice(n_base, size=n_hosts * seeds_per_host, replace=False)
    seeds = pd.DataFrame({
        "url": [urls[s] for s in seed_rows] + ["http://bad host/"],
        "priority": np.round(rng.uniform(0, 100, len(seed_rows) + 1), 1),
        "discovered_epoch": 0,
    })
    return {
        "corpus": corpus,
        "images": synth.gen_images_pandas(image_ids),
        "robots": synth.gen_robots_pandas(n_hosts, N_IMG_HOSTS),
        "seeds": seeds,
    }


# ----------------------------------------------------------------- stream


def _page_rows(rng, page_ids: np.ndarray, universe: int, version: int) -> list[dict]:
    targets = _zipf_index(rng, universe, len(page_ids) * STREAM_FANOUT).reshape(
        -1, STREAM_FANOUT)
    rows = []
    for pid, tg in zip(page_ids, targets):
        links = {}
        for t in tg:
            if t == pid:
                continue
            url = f"http://s{t % 97}.org/d/{t}"
            links[url] = {"url": url, "uri": f"org.s{t % 97}>>o>/d/{t}",
                          "anchor_text": f"a{t}"}
        if not links:  # every page carries a link: 0-link pages never load
            t = (pid + 1) % universe
            url = f"http://s{t % 97}.org/d/{t}"
            links[url] = {"url": url, "uri": f"org.s{t % 97}>>o>/d/{t}",
                          "anchor_text": f"a{t}"}
        rows.append({
            "url": f"http://s{pid % 97}.org/d/{pid}",
            "uri": f"org.s{pid % 97}>>o>/d/{pid}",
            "crawl_date": f"2026-01-{1 + version:02d}",
            "server": "bench",
            "title": f"doc {pid} v{version}",
            "outbound_links": list(links.values()),
        })
    return rows


def page_batches(seed: int, n_batches: int, base_pages: int = 10_000,
                 batch_pages: int = 2_000) -> list[list[dict]]:
    """Batch 0 is the base page set; each later batch re-crawls
    ``RECRAWL_FRAC`` of its pages from those already indexed (with new
    outbound links) and adds the rest as new pages.  Link targets are
    Zipf-skewed over the whole id space, so a few pages collect most
    inbound links and many targets are not (yet) crawled."""
    rng = np.random.default_rng([seed, 2])
    universe = base_pages + batch_pages * n_batches
    batches = [_page_rows(rng, np.arange(base_pages), universe, 0)]
    known = base_pages
    for b in range(1, n_batches + 1):
        n_re = int(batch_pages * RECRAWL_FRAC)
        re_ids = rng.choice(known, size=n_re, replace=False)
        new_ids = np.arange(known, known + batch_pages - n_re)
        known += len(new_ids)
        batches.append(_page_rows(rng, np.concatenate([re_ids, new_ids]), universe, b))
    return batches


def final_pages(batches: list[list[dict]]) -> list[dict]:
    """The latest version of every page across ``batches``."""
    latest = {}
    for batch in batches:
        for row in batch:
            latest[row["uri"]] = row
    return list(latest.values())


# ------------------------------------------------------------------ serve


ROUTE_CYCLE = ("top", "page", "domain", "links_in", "top_next", "page",
               "links_out", "domain", "pages", "links_in")


def serve_requests(seed: int, pages: list[dict], n: int) -> list[str]:
    """``n`` request paths over the route mix, keys Zipf-drawn from the
    indexed pages, ``MISS_FRAC`` of them for keys that are not indexed."""
    from urllib.parse import quote

    rng = np.random.default_rng([seed, 3])
    keys = _zipf_index(rng, len(pages), n)
    miss = rng.random(n) < MISS_FRAC
    # a fixed route cycle, so every seed offers the same mix in the same order
    kinds = [ROUTE_CYCLE[i % len(ROUTE_CYCLE)] for i in range(n)]
    out = []
    for kind, k, m in zip(kinds, keys, miss):
        pg = pages[int(k)]
        url, uri = pg["url"], pg["uri"]
        host = url.split("/")[2]
        if m:
            url, uri = url + "x", uri + "x"
            host = "miss-" + host
        if kind == "top":
            out.append("/top")
        elif kind == "top_next":
            out.append("/top?next=" + quote(f"{1 + int(k) % 3}|{uri}"))
        elif kind == "page":
            out.append("/page?url=" + quote(url, safe=""))
        elif kind == "pages":
            out.append("/pages?domain=" + quote(host))
        elif kind == "domain":
            out.append("/domain?domain=" + quote(host))
        elif kind == "links_in":
            out.append(f"/links?uri={quote(uri, safe='')}&linkType=in")
        else:
            out.append(f"/links?uri={quote(uri, safe='')}&linkType=out")
    return out


# ---------------------------------------------------------- frontier_scale


def image_ids(seed: int, n: int) -> list[str]:
    """``n`` distinct image ids (the join key the verifier regenerates
    pixels and captions from)."""
    return [f"com.img{seed % 7}>>o>/i/{seed}-{i}.png" for i in range(n)]
