"""Seeded input generators, one per workload.

Every generator is a pure function of its seed: the same seed gives the
same inputs. The shape of the input (sizes, skew profile, duplicate
share, page layout) does not depend on the seed;
the seed draws names, words and which item each URL or page takes, so
run-to-run spread measures the system rather than the input. The package under
test only ever sees the generated rows, written to Parquet by `write_rows`.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

TLDS = ("com", "net", "org", "co.uk", "io", "com.au")


def _domains(rng: random.Random, n: int, stem: str) -> list[str]:
    """n distinct registered domains with seed-dependent names."""
    return [f"{stem}{i}-{rng.getrandbits(20):05x}.{TLDS[i % len(TLDS)]}"
            for i in range(n)]


def write_rows(path: str, columns: dict[str, list], types: dict[str, pa.DataType],
               n_files: int) -> None:
    """Write column lists as `n_files` Parquet files under `path`, so a scan
    starts with n_files parallel tasks and no shuffle."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    step = -(-n // n_files)
    for f, lo in enumerate(range(0, n, step)):
        table = pa.table({k: pa.array(v[lo:lo + step], types[k])
                          for k, v in columns.items()})
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


# ---------------------------------------------------------------------------
# frontier_round: one scheduling round over a raw URL batch
# ---------------------------------------------------------------------------


@dataclass
class FrontierInput:
    raw_urls: list[str]
    seen_canon: list[str]          # canonical URLs already in url_seen
    robots: dict[str, str]         # host -> robots.txt


def frontier_input(seed: int, n_raw: int = 240_000, n_domains: int = 300,
                   zipf_s: float = 1.1, pool_factor: float = 0.8,
                   seen_share: float = 0.5) -> FrontierInput:
    """Raw URL batch with host skew (Zipf over registered domains, one to
    three hosts each, crawl delays 0-5 s, a third disallowing /item/1),
    collapsing variants (upper-case host + default port +
    trailing slash, tracking params, fragments) and a prior-round seen set
    holding `seen_share` of each host's canonical item space.

    Each domain draws items from a pool of pool_factor x its expected draw
    count; with the variants, about 30% of raw URLs collapse in dedup."""
    rng = random.Random(seed)
    # domain i's weight, hosts, crawl delays and robots rule depend on i
    # alone; the seed shuffles which name gets which profile, so every seed
    # does the same amount of work
    profiles = [(1.0 / (i + 1) ** zipf_s,
                 [(0, 0, 1, 2, 5)[(i + k) % 5] for k in range(1 + i % 3)],
                 i % 3 == 0)
                for i in range(n_domains)]
    rng.shuffle(profiles)
    domains = _domains(rng, n_domains, "site")
    weights = [w for w, _, _ in profiles]
    total_w = sum(weights)
    pools = [max(8, int(pool_factor * n_raw * w / total_w)) for w in weights]
    hosts, robots = [], {}
    for d, (_, delays, deny) in zip(domains, profiles):
        hosts.append([f"{h}.{d}" for h in ("www", "shop", "m")[:len(delays)]])
        for h, delay in zip(hosts[-1], delays):
            robots[h] = ("User-agent: *\n"
                         + ("Disallow: /item/1\n" if deny else "")
                         + (f"Crawl-delay: {delay}\n" if delay else ""))

    picks = rng.choices(range(n_domains), weights=weights, k=n_raw)
    raw = []
    for d in picks:
        hs = hosts[d]
        host = hs[rng.randrange(len(hs))]
        item = rng.randrange(pools[d])
        r = rng.random()
        if r < 0.35:
            raw.append(f"https://{host}/item/{item}")
        elif r < 0.55:
            raw.append(f"https://{host.upper()}:443/item/{item}/")
        elif r < 0.75:
            raw.append(f"https://{host}/item/{item}"
                       f"?utm_source=feed{item % 7}&ref=r{rng.randrange(9)}")
        elif r < 0.9:
            raw.append(f"https://{host}/item/{item}#sec{rng.randrange(5)}")
        else:
            raw.append(f"https://{host}/item/{item}?color={rng.randrange(4)}")

    seen = [f"https://{h}/item/{item}"
            for d, hs in enumerate(hosts) for h in hs
            for item in range(pools[d]) if rng.random() < seen_share]
    return FrontierInput(raw, seen, robots)


# ---------------------------------------------------------------------------
# extract_pipeline: product pages
# ---------------------------------------------------------------------------

WORDS = ("alpha", "bravo", "cobalt", "delta", "ember", "fjord", "garnet",
         "harbor", "indigo", "juniper", "kestrel", "lumen", "maple", "nimbus",
         "onyx", "pepper", "quartz", "raven", "sierra", "tundra")
BRANDS = ("acme  works", "northwind", "globex\tindustries", "initech",
          "umbrella   labs", "stark   goods", "wayne co")


def product_pages(seed: int, n_pages: int = 1200, dup_share: float = 0.5,
                  miss_name_share: float = 0.03) -> list[tuple[int, str, str]]:
    """(doc_id, url, html) product pages of ~1.8 KB. `dup_share` of pages
    repeat an earlier product name (the exact-dedup key) with their own
    price and reviews; `miss_name_share` lack the required name."""
    rng = random.Random(seed)
    names: list[str] = []
    out = []
    for doc_id in range(n_pages):
        # page shape depends on doc_id alone, so every seed does the same
        # work; the seed draws the words, names and which page repeats which
        if names and doc_id % round(1 / dup_share) == 1:
            name = rng.choice(names)
        else:
            name = " ".join(rng.choice(WORDS) for _ in range(3)) \
                + f" {rng.randrange(10_000)}"
            names.append(name)
        h1 = ("" if doc_id % round(1 / miss_name_share) == 7
              else f'<h1 class="product-name">  {name} </h1>')
        price = f"${rng.randrange(1, 3000)}.{rng.randrange(100):02d}"
        feats = "".join(f"<li>{rng.choice(WORDS)} {rng.choice(WORDS)}</li>"
                        for _ in range(4 + doc_id % 5))
        reviews = "".join(
            f'<div class="review"><span class="stars">{rng.randrange(1, 6)}'
            f"</span><p>{' '.join(rng.choice(WORDS) for _ in range(12))}</p>"
            "</div>" for _ in range(1 + doc_id % 6))
        specs = "".join(
            f"<tr><td>{k}</td><td>{rng.randrange(100)} {rng.choice(WORDS)}"
            "</td></tr>" for k in ("weight", "width", "height", "colour",
                                   "material")[:2 + doc_id % 4])
        desc = " ".join(rng.choice(WORDS) for _ in range(60))
        nav = "".join(f'<a href="/c/{rng.choice(WORDS)}">{w}</a>'
                      for w in itertools.islice(WORDS, 8))
        html = (
            f"<html><head><title>{name}</title></head><body>"
            f'<nav class="crumbs">{nav}</nav>{h1}'
            f'<div class="brand"> {rng.choice(BRANDS)} </div>'
            f'<span class="price">{price}</span>'
            f'<ul class="features">{feats}</ul>'
            f'<table class="specs"><thead><tr><th>Spec</th><th>Value</th>'
            f"</tr></thead><tbody>{specs}</tbody></table>"
            f'<div class="description"><p>{desc}</p></div>'
            f'<section class="reviews">{reviews}</section>'
            "</body></html>")
        out.append((doc_id, f"https://store.example.com/p/{doc_id}", html))
    return out
