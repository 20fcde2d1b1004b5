"""Seeded, vectorized input generators for the benchmark workloads.

Every table is a pure function of ``seed`` and the size arguments: the
same seed gives byte-identical tables, another seed gives different ones.
Inputs are regenerated on every run into that run's own directory; nothing
is reused because a file already exists.

Each generator also returns ``shares``: the measured fractions of the rows
that carry the properties the workload is built around (hot root, hot
bucket, redirect), so a run records what it actually measured.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from subdomain_crawler_spark.functions import text as text_k
from subdomain_crawler_spark.sources import fixtures

# -- crawl web -----------------------------------------------------------------

HOT_HOSTS = 40        # extra leaf hosts the hot root owns
HOT_BUDGET = 100      # the hot root's max_per_round
REDIRECT_FRAC = 0.06  # share of the other hosts that start a redirect hop


def crawl_web(seed: int, n_roots: int = 1200) -> dict:
    """The crawl workload's web: ``fixtures.make_scaling_web`` (``n_roots``
    roots of 24 hosts, long captions, same-root links) plus

    * one hot root owning HOT_HOSTS extra depth-2 leaf hosts, linked from
      its first base pages, under a ``max_per_round`` budget;
    * redirect chains of 1-3 hops on REDIRECT_FRAC of the other hosts, a
      quarter of them ending on a host that does not exist;
    * a robots table: the hot root's budget and host-prefix disallow rule,
      a ``crawl_delay`` on a tenth of the roots and host-prefix
      ``disallow`` rules on another tenth.
    """
    web = fixtures.make_scaling_web(n_roots, seed=seed)
    rng = np.random.RandomState(seed)
    corpus = web["corpus"]
    host = corpus["host"].to_numpy(dtype=object)
    caption = corpus["caption"].to_numpy(dtype=object).copy()
    roots = web["seeds"]["seed"].to_numpy(dtype=object)
    H = len(host) // n_roots

    # hot root: leaves h{i}.<parent>, linked from its first base pages
    hot_r = rng.randint(n_roots)
    hot = roots[hot_r]
    parents = host[hot_r * H: hot_r * H + 4]
    i = np.arange(HOT_HOSTS)
    hot_names = ("h" + pd.Series(i.astype(str), dtype=object)
                 + "." + parents[i % len(parents)]).to_numpy(dtype=object)
    links = pd.Series(hot_names).groupby(i % len(parents)).agg(" ".join)
    caption[hot_r * H + links.index.to_numpy()] += " " + links.to_numpy()
    leaves = corpus.iloc[np.full(HOT_HOSTS, hot_r * H)].reset_index(drop=True)
    leaves["host"] = hot_names
    leaves["image_id"] = hot_names + "/0"
    leaves["caption"] = "<title>Hot page</title> " + caption[
        rng.randint(0, len(caption), size=HOT_HOSTS)]
    host = np.concatenate([host, hot_names])
    caption = np.concatenate([caption, leaves["caption"].to_numpy()])
    corpus = pd.concat([corpus, leaves], ignore_index=True)
    corpus["caption"] = caption
    n = len(host)

    # redirect chains over the non-hot hosts: chain c has L_c redirecting
    # hosts h_1 → … → h_L → target; a quarter of the targets do not exist
    cold = np.flatnonzero(~pd.Series(host).str.endswith("." + hot).to_numpy())
    n_chains = max(1, int(len(cold) * REDIRECT_FRAC / 2))
    lens = rng.randint(1, 4, size=n_chains)
    pick = rng.permutation(cold)[: lens.sum() + n_chains]
    hops, targets = pick[: lens.sum()], pick[lens.sum():]
    dest = np.empty(len(hops), dtype=object)
    dest[:-1] = host[hops[1:]]
    tgt = host[targets].copy()
    dead = rng.rand(n_chains) < 0.25
    tgt[dead] = "gone." + tgt[dead]
    dest[np.cumsum(lens) - 1] = tgt
    redirect_to = np.full(n, None, dtype=object)
    redirect_to[hops] = dest
    corpus.loc[hops, "status_code"] = 301
    corpus["redirect_to"] = redirect_to
    dns = pd.DataFrame({"host": host, "ips": [["10.0.0.1"]] * n,
                        "rcode": np.zeros(n, dtype=np.int32)})

    # robots: hot budget + cdn. disallow; crawl_delay / disallow on others
    others = roots[roots != hot]
    perm = rng.permutation(len(others))
    k = max(1, len(others) // 10)
    delayed, blocked = others[perm[:k]], others[perm[k:2 * k]]
    robots = pd.DataFrame({
        "root": np.concatenate([[hot], delayed, blocked]),
        "disallow_prefixes": ([["cdn.", "/private"]] + [[]] * k
                              + [["dev.", "api."]] * k),
        "crawl_delay": pd.Series([None] + [1] * k + [None] * k,
                                 dtype=object),
        "max_per_round": pd.Series([HOT_BUDGET] + [None] * k
                                   + [1_000_000] * k, dtype=object),
    })

    seeds = pd.Series(rng.permutation(roots), dtype=object)
    hot_rows = int(pd.Series(host).str.endswith("." + hot).sum())
    return {
        "corpus": corpus, "dns": dns, "robots": robots, "seeds": seeds,
        "hot_root": hot,
        "sizes": {"corpus_rows": len(corpus), "dns_rows": len(dns),
                  "robots_rows": len(robots), "seeds": len(seeds)},
        "shares": {"hot_root_rows": hot_rows / len(corpus),
                   "redirect_rows": len(hops) / len(corpus),
                   "dead_redirect_chains": float(dead.mean())},
    }


# -- page corpus ---------------------------------------------------------------

_EN = np.array(text_k.STOPWORDS["en"], dtype=object)
_DE = np.array(text_k.STOPWORDS["de"], dtype=object)
_CONTENT = np.array(
    ["data", "spark", "crawl", "index", "mirror", "archive", "research",
     "dataset", "paper", "lab", "compute", "cluster", "batch", "stream",
     "kernel", "vector", "tensor", "shard", "replica", "cache", "queue",
     "frontier", "robots", "budget", "fetch", "parse", "extract", "dedup",
     "graph", "model", "query", "table", "join", "window", "filter", "page",
     "domain", "host", "link", "title", "image", "caption", "score", "rank"]
    + ["w%03d" % k for k in range(400)], dtype=object)


def _join_rows(words: np.ndarray) -> np.ndarray:
    """Join each row of a 2-D object array of words with single spaces."""
    out = words[:, 0].copy()
    for j in range(1, words.shape[1]):
        out = out + " " + words[:, j]
    return out


def page_corpus(seed: int, n_docs: int = 1000, words: int = 40,
                hot_docs: int = 200, exact_sets: int = 50,
                n_images: int = 12000, blank_images: int = 300,
                img_dup_sets: int = 300) -> dict:
    """Documents (doc_id, host, text) and images (image_id, phash).

    Documents: English prose over a mixed vocabulary, with ``hot_docs``
    parked-page near-duplicates (one template, one token swapped per
    page — together they form one hot LSH bucket per band),
    ``exact_sets`` planted exact-duplicate sets of 2-4 copies, a German
    share, short pages and repetitive pages, so every quality-gate reason
    fires.

    Images: random 64-bit pHashes, ``blank_images`` blank images (pHash 0
    — one hot MIH bucket per band), and ``img_dup_sets`` planted
    exact-duplicate sets of 2-3 images.
    """
    rng = np.random.RandomState(seed)
    # base prose: content words with ~30 % English stopwords
    w = _CONTENT[rng.randint(0, len(_CONTENT), size=(n_docs, words))]
    sw = rng.rand(n_docs, words) < 0.3
    w[sw] = _EN[rng.randint(0, len(_EN), size=sw.sum())]
    kind = np.full(n_docs, "prose", dtype=object)
    # German pages
    de = rng.rand(n_docs) < 0.06
    wde = w[de].copy()
    m = rng.rand(*wde.shape) < 0.4
    wde[m] = _DE[rng.randint(0, len(_DE), size=m.sum())]
    wde[~m & (np.isin(wde, _EN))] = "und"
    w[de] = wde
    kind[de] = "de"
    # repetitive pages: a 6-word phrase repeated
    rep = (rng.rand(n_docs) < 0.04) & ~de
    phrase = w[rep][:, :6]
    w[rep] = np.tile(phrase, (1, words // 6 + 1))[:, :words]
    kind[rep] = "repetitive"
    texts = _join_rows(w)
    # short pages
    short = (rng.rand(n_docs) < 0.04) & (kind == "prose")
    texts[short] = _join_rows(w[short][:, :12])
    kind[short] = "short"
    # parked pages: one template, one token swapped at a random position
    free = np.flatnonzero(kind == "prose")
    hot = rng.choice(free, size=hot_docs, replace=False)
    template = w[hot[0]].copy()
    pw = np.tile(template, (hot_docs, 1))
    pos = rng.randint(0, words, size=hot_docs)
    pw[np.arange(hot_docs), pos] = "parked" + pd.Series(
        np.arange(hot_docs).astype(str), dtype=object).to_numpy()
    texts[hot] = _join_rows(pw)
    kind[hot] = "parked"
    # exact-duplicate sets: copies of a prose page's text
    free = np.flatnonzero(kind == "prose")
    sizes = rng.randint(2, 5, size=exact_sets)
    members = rng.choice(free, size=sizes.sum(), replace=False)
    set_of = np.repeat(np.arange(exact_sets), sizes)
    heads = members[np.cumsum(sizes) - sizes]
    texts[members] = texts[heads[set_of]]
    kind[members] = "exact_dup"
    hosts = ("p0.www.site" + pd.Series(
        (np.arange(n_docs) % 97).astype(str), dtype=object) + ".com")
    docs = pd.DataFrame({"doc_id": np.arange(1, n_docs + 1, dtype=np.int64),
                         "host": hosts.to_numpy(dtype=object),
                         "text": texts})
    exact_doc_sets = [docs["doc_id"].to_numpy()[members[set_of == s]].tolist()
                      for s in range(exact_sets)]

    # images
    ph = rng.randint(0, 2**63 - 1, size=n_images, dtype=np.int64)
    ph[rng.rand(n_images) < 0.5] *= -1  # negative pHashes appear too
    blank = rng.choice(n_images, size=blank_images, replace=False)
    ph[blank] = 0
    rest = np.setdiff1d(np.arange(n_images), blank)
    isz = rng.randint(2, 4, size=img_dup_sets)
    imem = rng.choice(rest, size=isz.sum(), replace=False)
    iset = np.repeat(np.arange(img_dup_sets), isz)
    ihead = imem[np.cumsum(isz) - isz]
    ph[imem] = ph[ihead[iset]]
    image_ids = ("img" + pd.Series(np.arange(n_images).astype(str),
                                   dtype=object)).to_numpy(dtype=object)
    images = pd.DataFrame({"image_id": image_ids, "phash": ph})
    exact_img_sets = [image_ids[imem[iset == s]].tolist()
                      for s in range(img_dup_sets)]
    return {
        "docs": docs, "images": images,
        "exact_doc_sets": exact_doc_sets, "exact_img_sets": exact_img_sets,
        "sizes": {"docs": n_docs, "words_per_doc": words,
                  "images": n_images},
        "shares": {"hot_bucket_docs": hot_docs / n_docs,
                   "hot_bucket_images": blank_images / n_images,
                   "exact_dup_docs": len(members) / n_docs,
                   "exact_dup_images": len(imem) / n_images},
    }
