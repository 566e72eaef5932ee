"""Seeded generator for the ingest_spine workload.

Writes, under <out_dir>:
  users.jsonl              the control table (one company per line; some
                           handles null so the F10 guard stays live)
  cycle_<k>/<platform>/... one payload directory per cycle, in the
                           connectors' file layout
  expected.json            what a correct engine ends with: per cycle and
                           platform the rows inserted and the companies whose
                           watermark advances; per sink, each key with the
                           cycle that first inserts it

Cycle 0 is the Catchup backfill; cycles 1..K are General cycles one hour
apart. The event-time platforms get fresh rows inside each cycle's window;
the page- and hash-capped platforms re-deliver mostly old rows. A repeat
cycle reuses cycle K's payload with `now` one hour later. Per-company counts
are Zipf-skewed and stay below every platform's cap, so the expected result
needs no cap logic.

    python3 perfbench/gen_ingest.py <out_dir> <seed> <companies> <general_cycles>
"""
import datetime as dt
import json
import os
import re
import sys

import numpy as np

NOW0 = dt.datetime(2025, 6, 1)
HOUR = dt.timedelta(hours=1)
EVENT_TIME = ("twitter", "twitter2", "twitter3", "facebook", "linkedin")
REDELIVER = ("trustpilot", "feefo", "reddit", "instagram", "google_maps")
PLATFORMS = EVENT_TIME + REDELIVER
# platforms whose normalizer filters out records missing a required field
DROPPED = ("twitter", "twitter2", "twitter3", "facebook", "linkedin", "instagram")
HANDLE = {"twitter": "twitter_username", "twitter2": "twitter_username",
          "twitter3": "twitter_username", "instagram": "instagram_username",
          "trustpilot": "company_web_address", "feefo": "feefo_business_info",
          "google_maps": "place_url", "reddit": "company_web_address",
          "facebook": "facebook_username", "linkedin": "linkedin_username"}
SINK = {"twitter": "twitter_mentions", "twitter2": "twitter_mentions",
        "twitter3": "twitter_mentions", "instagram": "instagram_mentions",
        "trustpilot": "trustpilot_reviews", "feefo": "feefo_reviews",
        "google_maps": "google_maps_reviews", "reddit": "reddit_posts",
        "facebook": "facebook_posts", "linkedin": "linkedin_posts"}
# rows one company may deliver in one cycle: below the General cap (pages
# for trustpilot/feefo are capped separately: every row sits on page 1..3)
MAX_ROWS = {"twitter": 60, "twitter2": 60, "twitter3": 60, "instagram": 60,
            "trustpilot": 40, "feefo": 40, "google_maps": 60, "reddit": 28,
            "facebook": 60, "linkedin": 19}
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
WORDS = "great slow helpful broken love price support delivery quality refund".split()


def sanitize(h):
    return re.sub(r"[^A-Za-z0-9._-]", "_", h)


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def spark_ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


class Rows:
    """Builds one platform's raw payload lines and the sink key each valid
    line normalizes to (None for lines the normalizer drops)."""

    def __init__(self, rng):
        self.rng = rng
        self.serial = 0

    def text(self):
        return " ".join(self.rng.choice(WORDS, int(self.rng.integers(3, 12))))

    def make(self, platform, company, t, valid=True):
        self.serial += 1
        n, name, r = self.serial, company["company_name"], self.rng
        if platform == "twitter":
            row = {"id": f"tw{n}", "url": f"https://x.com/i/{n}", "text": self.text(),
                   "createdAt": t.strftime("%a %b %d %H:%M:%S +0000 %Y"),
                   "retweetCount": int(r.integers(0, 9)), "likeCount": int(r.integers(0, 99)),
                   "author": {"name": f"user{n % 997}"},
                   "media": [{"expanded_url": f"https://img/{n}.jpg"}]}
            if not valid:
                del row["createdAt"]
            return row, (row["id"],) if valid else None
        if platform == "twitter2":
            row = {"id": f"tl{n}", "url": f"https://x.com/t/{n}", "text": self.text(),
                   "createdAt": iso(t), "replyCount": int(r.integers(0, 5)),
                   "author": {"name": f"user{n % 991}"}}
            if not valid:
                del row["text"]
            return row, (row["id"],) if valid else None
        if platform == "twitter3":
            row = {"id": 9000000000 + n, "content": self.text(), "date": iso(t),
                   "url": f"https://x.com/s/{n}", "user": {"username": f"user{n % 983}"},
                   "likeCount": int(r.integers(0, 50))}
            if not valid:
                del row["id"]
            return row, (str(row.get("id")),) if valid else None
        if platform == "facebook":
            row = {"postFacebookId": f"fb{n}", "text": self.text(), "time": iso(t),
                   "likes": int(r.integers(0, 40)), "shares": int(r.integers(0, 5)),
                   "url": f"https://fb/{n}", "textReferences": [{"short_name": name}],
                   "media": [{"photo_image": {"url": f"https://fb/img{n}"}}]}
            if not valid:
                del row["time"]
            return row, (row["postFacebookId"],) if valid else None
        if platform == "linkedin":
            ms = int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1000
            row = {"urn": f"urn:li:{n}", "full_urn": f"urn:li:{n}:full", "text": self.text(),
                   "url": f"https://li/{n}",
                   "posted_at": {"date": spark_ts(t), "timestamp": ms},
                   "author": {"first_name": "A", "last_name": f"B{n % 89}", "username": f"ab{n}"},
                   "stats": {"total_reactions": int(r.integers(0, 30)), "like": 1, "comments": 2},
                   "post_type": "regular"}
            if not valid:
                del row["posted_at"]
            return row, (name, row["full_urn"]) if valid else None
        if platform == "instagram":
            if not valid:
                return {"error": "rate limited"}, None
            row = {"id": f"ig{n}", "caption": self.text(), "ownerUsername": f"user{n % 977}",
                   "timestamp": iso(t), "likesCount": int(r.integers(1, 60))}
            return row, (row["id"],)
        if platform == "trustpilot":
            d = t.date()
            row = {"author_name": f"Reviewer {n}", "rating_alt": f"Rated {int(r.integers(1, 6))} out of 5 stars",
                   "review_title": f"Title {n}", "review_body": self.text(),
                   "review_date_str": f"{d.day} {MONTHS[d.month - 1]} {d.year}",
                   "page_num": int(r.integers(1, 4))}
            return row, (name, row["author_name"], row["review_title"], d.isoformat())
        if platform == "feefo":
            d = t.date()
            row = {"customer_name": f"Customer {n}",
                   "purchase_date_str": f"Date of purchase: {d.strftime('%d/%m/%Y')}",
                   "service_review": f"service {n} " + self.text(), "product_review": self.text(),
                   "customer_location": "UK", "page_num": int(r.integers(1, 4))}
            return row, (name, company["feefo_business_info"], row["customer_name"],
                         row["service_review"], d.isoformat())
        if platform == "google_maps":
            row = {"name": f"Guest {n}", "stars": float(r.integers(1, 6)), "text": self.text(),
                   "reviewDate": iso(t), "reviewUrl": f"https://g/{n}"}
            return row, (company["place_url"], row["name"], row["reviewUrl"])
        if platform == "reddit":
            secs = int((t - dt.datetime(1970, 1, 1)).total_seconds())
            post = {"permalink": f"/r/sub{n % 7}/comments/{n}/", "title": self.text(),
                    "author": f"redditor{n % 113}", "score": int(r.integers(0, 99)),
                    "num_comments": int(r.integers(0, 9)), "created_utc": secs,
                    "selftext": self.text()}
            row = {"data": {"after": None, "children": [{"data": post}]}}
            return row, (name, "https://www.reddit.com" + post["permalink"], spark_ts(t))
        raise ValueError(platform)


def generate(out_dir, seed, n_companies, cycles):
    rng = np.random.default_rng(seed)
    rows = Rows(rng)
    companies = []
    for i in range(n_companies):
        c = {"id": i + 1, "company_name": f"Company_{i + 1:04d}",
             "company_web_address": f"company{i + 1}.example.com",
             "instagram_username": f"gram{i + 1}", "twitter_username": f"tw_{i + 1}",
             "feefo_business_info": f"feefo-{i + 1}",
             "place_url": f"https://maps.google.com/?cid={1000 + i}",
             "facebook_username": f"fb.{i + 1}", "linkedin_username": f"li-{i + 1}"}
        for col in sorted(set(HANDLE.values())):
            if rng.random() < 0.1:  # F10: no handle on this platform
                c[col] = None
        companies.append(c)
    # Zipf-skewed company weights, shuffled so size is not id-ordered
    weight = 1.0 / np.arange(1, n_companies + 1) ** 1.1
    weight = rng.permutation(weight / weight.max())

    nows = [NOW0 + k * HOUR for k in range(cycles + 2)]  # catchup, general 1..K, repeat
    payload = {}       # (k, platform, company id) -> list of raw rows
    delivered = {}     # (platform, company id) -> list of (row, key) seen so far
    inserted_at = {}   # sink -> {key: cycle}
    expected = {"now": [spark_ts(t) for t in nows], "cycles": []}
    for k in range(cycles + 1):
        now = nows[k]
        per_platform = {}
        for p in PLATFORMS:
            hcol, sink = HANDLE[p], SINK[p]
            keys = inserted_at.setdefault(sink, {})
            ins, advanced = 0, []
            for ci, c in enumerate(companies):
                if c[hcol] is None:
                    continue
                w = weight[ci]
                lines, new_keys = [], set()
                if k == 0:
                    n = 1 + min(MAX_ROWS[p] - 2, int(rng.poisson(1 + 25 * w)))
                    times = [now - dt.timedelta(seconds=int(s))
                             for s in rng.integers(600, 60 * 86400, n)]
                else:
                    n = min(MAX_ROWS[p] // 4, int(rng.poisson(0.3 + 8 * w)))
                    if p in REDELIVER and rng.random() < 0.5:
                        n = 0  # half the companies bring nothing new this cycle
                    times = [nows[k - 1] + dt.timedelta(seconds=int(s))
                             for s in rng.integers(5, 3595, n)]
                for t in times:
                    row, key = rows.make(p, c, t)
                    lines.append(row)
                    delivered.setdefault((p, c["id"]), []).append(row)
                    if key not in keys:
                        new_keys.add(key)
                if p in DROPPED and rng.random() < 0.15:  # a record the normalizer drops
                    lines.append(rows.make(p, c, now - dt.timedelta(minutes=5), valid=False)[0])
                if k > 0:
                    old = delivered.get((p, c["id"]), [])[:-len(times) or None]
                    budget = MAX_ROWS[p] - len(lines) - 1
                    if p in REDELIVER:  # re-fetch mostly old rows
                        take = min(budget, len(old))
                    else:               # a few already-seen rows, outside or at the window edge
                        take = min(budget, len(old), int(rng.integers(0, 3)))
                    if take > 0:
                        idx = rng.choice(len(old), take, replace=False)
                        lines.extend(old[i] for i in sorted(idx))
                rng.shuffle(lines)
                payload[(k, p, c["id"])] = lines
                for key in new_keys:
                    keys[key] = k
                ins += len(new_keys)
                if new_keys:
                    advanced.append(c["id"])
            per_platform[p] = {"inserted": ins, "advanced": advanced}
        expected["cycles"].append(per_platform)
    expected["sinks"] = {s: sorted(["\u0001".join(key), cyc] for key, cyc in m.items())
                         for s, m in inserted_at.items()}
    expected["companies"] = n_companies
    expected["general_cycles"] = cycles

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "users.jsonl"), "w") as f:
        for c in companies:
            f.write(json.dumps(c) + "\n")
    for (k, p, cid), lines in payload.items():
        c = companies[cid - 1]
        base = os.path.join(out_dir, f"cycle_{k}", p)
        os.makedirs(base, exist_ok=True)
        handle = sanitize(c[HANDLE[p]])
        if p == "reddit":  # the dual query: one file per search form
            half = len(lines) // 2
            parts = {"_url": lines[:half], "_mention": lines[half:]}
        else:
            parts = {"": lines}
        for sfx, part in parts.items():
            with open(os.path.join(base, f"{handle}{sfx}.json"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in part)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
