"""Seeded synthetic tweet corpus (JSON lines) for the `tweets_e2e` workload.

Every tweet is a pure function of (seed, tweet id): its random draws come
from a splitmix64 hash of (seed, id, draw index), so any row can be rebuilt
alone and the same seed gives a byte-identical file. The corpus has the
shape the tweet pipeline is sensitive to:

- Zipfian user activity (a few users write most tweets);
- about 30% retweets, whose original authors follow a steeper Zipf law,
  so a few users receive most retweets (skewed fan-in);
- Zipfian hashtags written in case and accent variants that normalize to
  one tag; the top tag is held by a few percent of users, which keeps the
  k^2 candidate-pair term of the Jaccard self-join;
- tweets without hashtags (null hashtag fields);
- Unicode text with digits and punctuation.

`expected(tweets)` derives, straight from the generated rows, the facts the
benchmark checks the pipeline's outputs against.

Usage: python3 perfbench/gen_tweets.py <out.jsonl> <n_tweets> <seed>
"""
import bisect
import json
import sys
from collections import defaultdict

MASK = (1 << 64) - 1
ACCENTED = "ãäöüẞáäčďéěíĺľňóôŕšťúùůýž"
PLAIN = "aaousaacdeeillnoorstuuuyz"
# plain letter -> accented spellings that normalize back to it
VARIANTS = defaultdict(list)
for a, p in zip(ACCENTED, PLAIN):
    if a.lower() == a and a not in VARIANTS[p]:
        VARIANTS[p].append(a)
SYLLABLES = ["sa", "ta", "do", "ru", "ne", "li", "zu", "ko", "ye", "mo",
             "ca", "de", "tu", "no", "si", "ra"]
WORDS = ["spark", "graph", "café", "naïve", "Zürich", "données", "東京", "데이터",
         "ñandú", "größe", "über", "straße", "big", "data", "tweet", "news",
         "live", "today", "vote", "match", "music", "photo", "2024", "42",
         "3rd", "v2", "#1", "!!", "...", "🙂", "—", "http://t.co/x9"]


def _mix(z):
    z = (z + 0x9E3779B97F4A7C15) & MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


class Draws:
    """Uniform draws in [0, 1) keyed by (seed, row id, draw index)."""

    def __init__(self, seed, row):
        self.base = _mix(_mix(seed & MASK) ^ (row & MASK))
        self.k = 0

    def u(self):
        self.k += 1
        return _mix(self.base ^ self.k) / 2.0**64

    def below(self, n):
        return min(int(self.u() * n), n - 1)


def zipf_cdf(n, s):
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += r ** -s
        out.append(acc)
    return [c / acc for c in out]


def zipf(d, cdf):
    return min(bisect.bisect_left(cdf, d.u()), len(cdf) - 1)


def user_id(rank):
    # mixed digit counts, so the string order of ids differs from their
    # numeric order (the Jaccard edge direction compares strings)
    return (rank * 7919) % 1000003 + 1


def tag_base(rank):
    s, r = "", rank
    while True:
        s += SYLLABLES[r % 16]
        r //= 16
        if r == 0:
            break
    return s + ("" if rank % 5 else str(rank % 97))


def tag_variant(d, base):
    out = []
    for ch in base:
        x = d.u()
        if ch in VARIANTS and x < 0.15:
            ch = VARIANTS[ch][d.below(len(VARIANTS[ch]))]
        if d.u() < 0.2:
            ch = ch.upper()
        out.append(ch)
    return "".join(out)


def normalize(tag):
    low = tag.lower()
    table = {}
    for a, p in zip(ACCENTED, PLAIN):
        table.setdefault(a, p)
    return "".join(table.get(c, c) for c in low)


class Corpus:
    def __init__(self, n, seed):
        self.n, self.seed = n, seed
        self.n_users = max(n // 4, 10)
        self.n_tags = max(n // 4, 20)
        self.activity = zipf_cdf(self.n_users, 1.05)
        self.fan_in = zipf_cdf(self.n_users, 1.3)
        self.tag_pop = zipf_cdf(self.n_tags, 0.5)

    def hashtags(self, d):
        """Null (no hashtags) or a non-empty list of tag spellings."""
        if d.u() < 0.3:
            return None
        return [tag_variant(d, tag_base(zipf(d, self.tag_pop)))
                for _ in range(1 + d.below(4))]

    def text(self, d):
        return " ".join(WORDS[d.below(len(WORDS))] for _ in range(3 + d.below(10)))

    def original(self, author_rank, k):
        """The k-th original post of an author, as carried in a retweet."""
        d = Draws(self.seed ^ 0x5EED, (author_rank << 20) ^ k)
        tags = self.hashtags(d)
        return {"user": {"id": user_id(author_rank)}, "text": self.text(d),
                "hashtagEntities": None if tags is None else [{"text": t} for t in tags],
                "hashtagEntitiesArray": tags}

    def tweet(self, i):
        d = Draws(self.seed, i)
        rank = zipf(d, self.activity)
        if d.u() < 0.3:
            author = zipf(d, self.fan_in)
            if author == rank:
                author = (author + 1) % self.n_users
            rs = self.original(author, d.below(8))
            tags = rs["hashtagEntitiesArray"] if d.u() < 0.5 else None
            text = "RT " + rs["text"]
        else:
            rs, tags, text = None, self.hashtags(d), self.text(d)
        return {"user": {"id": user_id(rank)}, "text": text,
                "hashtagEntities": None if tags is None else [{"text": t} for t in tags],
                "hashtagEntitiesArray": tags, "retweeted_status": rs}

    def tweets(self):
        return (self.tweet(i) for i in range(self.n))

    def top_author(self):
        """The user with the highest expected retweet fan-in."""
        return str(user_id(0))


def write(path, corpus):
    with open(path, "w", encoding="utf-8") as f:
        for t in corpus.tweets():
            f.write(json.dumps(t, ensure_ascii=False, separators=(",", ":")) + "\n")


def user_tags(tweets):
    """Normalized tag set per user, as the hashtag layer derives it."""
    tags = defaultdict(set)
    for t in tweets:
        rs = t["retweeted_status"]
        if rs is not None and rs["hashtagEntities"] is not None:
            tags[str(rs["user"]["id"])].update(map(normalize, rs["hashtagEntitiesArray"]))
        if t["hashtagEntities"] is not None:
            tags[str(t["user"]["id"])].update(map(normalize, t["hashtagEntitiesArray"]))
    return tags


def stats(tweets):
    """Corpus size facts, without enumerating user pairs."""
    tweets = list(tweets)
    retweets = [t["retweeted_status"] for t in tweets if t["retweeted_status"] is not None]
    users = {t["user"]["id"] for t in tweets} | {rs["user"]["id"] for rs in retweets}
    tags = user_tags(tweets)
    holders = defaultdict(int)
    for ts in tags.values():
        for tag in ts:
            holders[tag] += 1
    return {"tweets": len(tweets), "retweets": len(retweets), "users": len(users),
            "tags": len(holders),
            "candidate_pairs": sum(k * (k - 1) // 2 for k in holders.values()),
            "top_tag_share": max(holders.values(), default=0) / max(len(tags), 1)}


def expected(tweets):
    """Facts about a corpus that the pipeline's outputs must reproduce."""
    rt = defaultdict(int)
    for t in tweets:
        rs = t["retweeted_status"]
        if rs is not None:
            rt[(str(rs["user"]["id"]), str(t["user"]["id"]))] += 1
    tags = user_tags(tweets)
    holders = defaultdict(list)
    for u, ts in tags.items():
        for tag in ts:
            holders[tag].append(u)
    shared = defaultdict(int)
    for us in holders.values():
        for a in us:
            for b in us:
                if a > b:
                    shared[(a, b)] += 1
    jc = {}
    for (a, b), s in shared.items():
        if s >= 2:
            w = s / (len(tags[a]) + len(tags[b]) - s)
            if w > 0.5:
                jc[(a, b)] = w
    return {"rt": dict(rt), "ht": {(u, tag) for u, ts in tags.items() for tag in ts},
            "jc": jc, "user_tags": tags, "stats": stats(tweets)}


if __name__ == "__main__":
    write(sys.argv[1], Corpus(int(sys.argv[2]), int(sys.argv[3])))
