"""Seeded corpus for the `curate` workload.

Documents resample the shape of the repository's `documents` fixture: texts
of 10-100 words drawn from its 30-word vocabulary, five languages and 20
sources. On top of that, about 10% of documents are exact copies of an
earlier original text, about 10% are near-duplicates of one (two words
replaced), about 5% reuse an earlier URL under a spelling the canonicalizer folds (scheme, www,
trailing slash, tracking parameter, fragment), and hosts are drawn from
Zipf-skewed registrable domains under several subdomain spellings. The link
graph gives each document two uniform out-links and one link to a
Zipf-chosen hub, so PageRank has a heavy-tailed in-degree to rank.

    python3 corpus.py OUT_DIR SEED DOCS
"""
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
LANGS = (("en", 41), ("zh", 15), ("de", 14), ("fr", 15), ("es", 15))
SUFFIXES = ("com", "org", "net", "com.au", "co.uk", "gov.au", "de", "io")
SUBDOMAINS = ("", "www.", "blog.", "m.", "news.", "shop.")
N_DOMAINS = 400
EXACT_DUP, NEAR_DUP, URL_REUSE = 0.10, 0.10, 0.05


def zipf_index(rng, cum):
    x = rng.random() * cum[-1]
    lo, hi = 0, len(cum) - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if cum[mid] < x:
            lo = mid + 1
        else:
            hi = mid
    return lo


def url_variant(rng, url):
    """A spelling of `url` that canonicalizes to the same key."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    choice = rng.randrange(5)
    if choice == 0:
        return ("http" if scheme == "https" else "https") + "://" + rest
    if choice == 1:
        host = host[4:] if host.startswith("www.") else "www." + host
        return scheme + "://" + host + "/" + path
    if choice == 2:
        return url + "/"
    if choice == 3:
        return url + "?utm_source=feed"
    return url + "#section-" + str(rng.randrange(9))


def generate(seed, n):
    rng = random.Random(seed)
    domains = ["%s%d.%s" % (rng.choice(("news", "shop", "site", "data", "blog")), k, SUFFIXES[k % len(SUFFIXES)])
               for k in range(N_DOMAINS)]
    cum, total = [], 0.0
    for k in range(N_DOMAINS):
        total += 1.0 / (k + 1) ** 1.1
        cum.append(total)
    lang_names = [l for l, w in LANGS for _ in range(w)]
    ids, texts, langs, sources, urls = [], [], [], [], []
    # copies are made of original documents only, so duplicate and
    # near-duplicate clusters are stars of the same depth for every seed
    originals = []
    for i in range(n):
        r = rng.random()
        if originals and r < EXACT_DUP:
            text = texts[rng.choice(originals)]
        elif originals and r < EXACT_DUP + NEAR_DUP:
            words = texts[rng.choice(originals)].split()
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
            originals.append(i)
        if originals and rng.random() < URL_REUSE and originals != [i]:
            url = url_variant(rng, urls[rng.choice(originals[:-1] or originals)])
        else:
            domain = domains[zipf_index(rng, cum)]
            sub = rng.choice(SUBDOMAINS)
            url = "https://%s%s/%s/%d-%08x" % (sub, domain, rng.choice(VOCAB), i, rng.getrandbits(32))
        ids.append(i)
        texts.append(text)
        langs.append(rng.choice(lang_names))
        sources.append("src%d" % (i % 20))
        urls.append(url)
    edges = set()
    for i in range(n):
        targets = [rng.randrange(n), rng.randrange(n), int(n * rng.random() ** 3)]
        for t in targets:
            if t != i:
                edges.add((i, t))
    edges = sorted(edges)
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
                     "source": sources, "url": urls})
    links = pa.table({"src": pa.array([e[0] for e in edges], pa.int64()),
                      "dst": pa.array([e[1] for e in edges], pa.int64())})
    return docs, links


def write(out, seed, n):
    docs, links = generate(seed, n)
    for name, table in (("docs", docs), ("edges", links)):
        os.makedirs(os.path.join(out, name), exist_ok=True)
        pq.write_table(table, os.path.join(out, name, "part-0.parquet"))
    with open(os.path.join(out, "n.txt"), "w") as f:
        f.write("%d\n" % n)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
