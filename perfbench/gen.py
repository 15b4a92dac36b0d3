"""Seeded generator of Amazon-review-shaped JSONL corpora.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

writes <out_dir>/days/day-NNN.jsonl, the corpus as it arrived day by day,
plus <out_dir>/corpus.json, a summary of what was written. The same workload
and seed give byte-identical files.

Make-up of every corpus:
  * records carry the Amazon 2014 review fields (reviewerID, asin,
    reviewerName, helpful, reviewText, overall, summary, unixReviewTime,
    reviewTime, category); the program's schema reads two of them;
  * category sizes are skewed (weight of the i-th category ~ 1/(i+1)^0.8);
  * terms follow a Zipf law; each category draws a fixed share of its terms
    from its own topical slice of the vocabulary (Zipf inside the slice);
  * text mixes in stopwords, capitals, punctuation, digits, a few
    non-ASCII words and rare long tokens on both sides of the 50-letter limit;
  * review lengths (in words) are lognormal;
  * malformed (truncated) lines and empty reviewText appear at fixed rates:
    exactly round(rate * docs) of each, at seeded positions.
"""
import json
import os
import sys
import zlib

import numpy as np

# Sizes keep a whole run (JVM set-up, cold job, warm jobs) under a minute
# on a 4-core host, where a fresh JVM alone costs 20-25 s before its first
# warm job; README.md records the resulting figures.
WORKLOADS = {
    # Many fine categories over a wide vocabulary: the contingency
    # aggregate, the term-total join and the k x categories top-k/format
    # output do the most work here.
    "reviews_fine_categories": dict(
        docs=20000, categories=200, vocab=40000, zipf=1.05, topical=0.35,
        slice_terms=300, mean_words=45, sigma=0.6),
    # Long reviews over a small vocabulary in 5 categories: tokenize
    # dominates; contingency and top-k are tiny.
    "reviews_long_text": dict(
        docs=1500, categories=5, vocab=4000, zipf=1.0, topical=0.3,
        slice_terms=300, mean_words=700, sigma=0.4),
}
# Every corpus arrives as this many day files, in arrival order: the batch
# path reads the directory, the incremental path folds in one day at a time.
DAYS = 3

MALFORMED_RATE = 0.005
EMPTY_TEXT_RATE = 0.01
LONG_TOKEN_RATE = 0.0005

TOP_LEVEL = [
    "Books", "Electronics", "Movies_and_TV", "CDs_and_Vinyl",
    "Clothing_Shoes_and_Jewelry", "Home_and_Kitchen", "Kindle_Store",
    "Sports_and_Outdoors", "Cell_Phones_and_Accessories",
    "Health_and_Personal_Care", "Toys_and_Games", "Video_Games",
    "Tools_and_Home_Improvement", "Beauty", "Apps_for_Android",
    "Office_Products", "Pet_Supplies", "Automotive",
    "Grocery_and_Gourmet_Food", "Patio_Lawn_and_Garden", "Baby",
    "Digital_Music", "Musical_Instruments", "Amazon_Instant_Video",
]

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "for", "on", "with", "as", "at", "by", "this", "that", "be", "are"]
# Words outside the synthetic vocabulary: digits, symbols and apostrophes
# exercise the delimiter class; a few non-ASCII words exercise lowercasing.
FILLERS = ["5", "10x", "$20", "100%", "#1", "don't", "it's", "A+", "I",
           "well-made", "(really)", "e-mail", "Café", "naïve", "€15", "x2"]

ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
          "v", "z", "br", "gr", "st", "pl", "tr"]
VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]
SYLLABLES = [o + v for o in ONSETS for v in VOWELS]  # 140


def term(i):
    """The i-th vocabulary word: two or more syllables, so never a stopword
    and never shorter than 4 letters."""
    s = [SYLLABLES[i % len(SYLLABLES)]]
    i //= len(SYLLABLES)
    s.append(SYLLABLES[i % len(SYLLABLES)])
    i //= len(SYLLABLES)
    while i:
        s.append(SYLLABLES[i % len(SYLLABLES)])
        i //= len(SYLLABLES)
    return "".join(s)


def category_names(n):
    if n <= len(TOP_LEVEL):
        return TOP_LEVEL[:n]
    return [f"{TOP_LEVEL[i % len(TOP_LEVEL)]}.sub{i:03d}" for i in range(n)]


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def generate(name, seed):
    p = WORKLOADS[name]
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    n, V, C = p["docs"], p["vocab"], p["categories"]
    cats = category_names(C)

    cat_of = rng.choice(C, size=n, p=zipf_weights(C, 0.8))
    mu = np.log(p["mean_words"]) - p["sigma"] ** 2 / 2
    lengths = np.maximum(1, rng.lognormal(mu, p["sigma"], n).astype(np.int64))
    total = int(lengths.sum())
    doc_of = np.repeat(np.arange(n), lengths)

    # Global Zipf terms, with a topical share drawn from the document's
    # category slice (slices are spread over the whole vocabulary).
    ids = rng.choice(V, size=total, p=zipf_weights(V, p["zipf"]))
    slice_ids = rng.choice(p["slice_terms"], size=total,
                           p=zipf_weights(p["slice_terms"], 1.0))
    offsets = (cat_of * 7919) % max(1, V - p["slice_terms"])
    topical = rng.random(total) < p["topical"]
    ids = np.where(topical, offsets[doc_of] + slice_ids, ids)

    words = [term(i) for i in range(V)]
    capital = [w.capitalize() for w in words]
    extra = STOPWORDS + [w.capitalize() for w in STOPWORDS] + FILLERS
    # Token table: lowercase words, capitalised words, stopwords and fillers.
    table = words + capital + extra
    kind = rng.random(total)
    code = np.where(kind < 0.08, ids + V, ids)          # capitalised
    fill = rng.integers(0, len(extra), size=total)
    code = np.where(kind > 0.72, 2 * V + fill, code)    # stopword/filler
    punct = rng.choice(["", "", "", "", ",", ".", "!", "?", ";", ":"],
                       size=total)
    longtok = rng.random(total) < LONG_TOKEN_RATE
    long_len = rng.integers(46, 54, size=total)  # 49 to 56 letters

    tokens = [table[c] for c in code.tolist()]
    for j in np.flatnonzero(punct != "").tolist():
        tokens[j] += punct[j]
    for j in np.flatnonzero(longtok).tolist():
        tokens[j] = "s" + "o" * int(long_len[j]) + "ng"
    bounds = np.concatenate([[0], np.cumsum(lengths)]).tolist()
    texts = [" ".join(tokens[bounds[d]:bounds[d + 1]]) for d in range(n)]

    n_bad = round(MALFORMED_RATE * n)
    n_empty = round(EMPTY_TEXT_RATE * n)
    special = rng.permutation(n)
    bad = set(special[:n_bad].tolist())
    empty = set(special[n_bad:n_bad + n_empty].tolist())
    cut = rng.integers(10, 60, size=n)
    rating = rng.integers(1, 6, size=n)
    times = 1104537600 + rng.integers(0, 10 * 365 * 86400, size=n)
    helpful = rng.integers(0, 20, size=n)

    lines = []
    for d in range(n):
        t = int(times[d])
        rec = {
            "reviewerID": f"A{(seed * 1000003 + d) % 10**12:012d}",
            "asin": f"B{(d * 2654435761) % 10**9:09d}",
            "reviewerName": f"Reviewer {d % 9973}",
            "helpful": [int(helpful[d]) // 2, int(helpful[d])],
            "reviewText": "" if d in empty else texts[d],
            "overall": float(rating[d]),
            "summary": texts[d][:30],
            "unixReviewTime": t,
            "reviewTime": f"{(t // 2629743) % 12 + 1:02d} {(t // 86400) % 28 + 1}, "
                          f"{1970 + t // 31556926}",
            "category": cats[cat_of[d]],
        }
        line = json.dumps(rec)
        lines.append(line[:int(cut[d])] if d in bad else line)
    return lines, dict(workload=name, seed=seed, lines=n, malformed=n_bad,
                       empty_text=n_empty, admitted=n - n_bad - n_empty,
                       categories=C, vocab=V, words=total, days=DAYS)


def write(name, seed, out_dir):
    lines, summary = generate(name, seed)
    days = os.path.join(out_dir, "days")
    os.makedirs(days, exist_ok=True)
    # Day d holds a contiguous block of arrival order.
    per = -(-len(lines) // DAYS)
    for d in range(DAYS):
        with open(os.path.join(days, f"day-{d:03d}.jsonl"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines[d * per:(d + 1) * per]) + "\n")
    summary["bytes"] = sum(len(l) + 1 for l in lines)
    with open(os.path.join(out_dir, "corpus.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return summary


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py <{'|'.join(sorted(WORKLOADS))}> <seed> <out_dir>")
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
