"""Seeded input generator for the benchmark.

Everything here runs in the benchmark's own Python process, apart from the
system under test; the JVM only ever sees the files these functions write.

* Review events: the reference's 24-column review record (model/Review.scala)
  as one JSON object per line, with review text, Zipf game popularity, a
  year of event days and a stated share of late, out-of-order events.
* Registry tables: the ten parquet tables the query registry reads, in the
  shape of the sf0.01 fixture (TPC-H-like star schema, events, documents,
  embeddings).
"""
import bisect
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DAY = 86400
# First event day of the generated year (2024-01-01 00:00:00 UTC).
YEAR_START = 1704067200
YEAR_DAYS = 365
LATE_SHARE = 0.05       # share of events whose day lies 1-30 days behind
LATE_MAX_DAYS = 30

WORDS = ("game fun bad great story boss level graphics music slow fast "
         "bug crash fix patch worth price hours friends online coop "
         "difficult easy art controls save map quest loot enemy sound "
         "amazing boring classic refund update early access love hate").split()
LANGS = ["english", "english", "english", "schinese", "russian", "spanish",
         "german", "french", "brazilian", "turkish"]
RECOMMENDED = ["true", "true", "true", "false", "false", "maybe", None]


class Zipf:
    """Inverse-CDF sampler over ranks 0..n-1 with weight 1/(rank+1)^s."""

    def __init__(self, n, s=1.1):
        acc, self.cdf = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cdf.append(acc)
        self.total = acc

    def sample(self, rng):
        return bisect.bisect_left(self.cdf, rng.random() * self.total)


def game_name(app_id):
    return f"Game {app_id:05d}"


class ReviewGen:
    """Review records for `games` Zipf-ranked games over a year of days.

    A backlog advances the event day with the position in the stream, so it
    replays the year in order; LATE_SHARE of the events fall 1-30 days
    behind that frontier, and the seconds within a day are random, so
    arrival order and event-time order disagree.
    """

    def __init__(self, seed, games):
        self.rng = random.Random(seed)
        self.zipf = Zipf(games)
        # game ids are a seeded permutation, so popularity is not id order
        ids = list(range(1, games + 1))
        self.rng.shuffle(ids)
        self.app_ids = [1000 + i for i in ids]
        # review texts come from a seeded pool: composing each text word
        # by word would make the generator, not the system, the bottleneck
        self.texts = [" ".join(self.rng.choice(WORDS)
                               for _ in range(self.rng.randint(3, 40)))
                      for _ in range(4096)]

    def zipf_game(self):
        return self.app_ids[self.zipf.sample(self.rng)]

    def record(self, index, app_id, ts_created, created_wall=None):
        r = self.rng.random
        sentiment = None if r() < 0.03 else (
            0.0 if r() < 0.05 else round(2 * r() - 1, 4))
        playtime = None if r() < 0.03 else round(-900.0 * math.log(1 - r()), 1)
        updated = int(created_wall if created_wall is not None else ts_created)
        return {
            "index": index,
            "app_id": app_id,
            "app_name": game_name(app_id),
            "review_id": 10_000_000 + index,
            "language": LANGS[int(r() * len(LANGS))],
            "review": self.texts[int(r() * len(self.texts))],
            "timestamp_created": ts_created,
            "timestamp_updated": updated,
            "recommended": RECOMMENDED[int(r() * len(RECOMMENDED))],
            "votes_helpful": int(r() * 51),
            "votes_funny": int(r() * 11),
            "weighted_vote_score": round(r(), 4),
            "comment_count": int(r() * 6),
            "steam_purchase": r() < 0.8,
            "received_for_free": r() < 0.05,
            "written_during_early_access": r() < 0.1,
            "author_steamid": str(76561197960265728 + int(r() * 1e9)),
            "author_num_games_owned": int(r() * 501),
            "author_num_reviews": 1 + int(r() * 100),
            "author_playtime_forever": round(-3000.0 * math.log(1 - r()), 1),
            "author_playtime_last_two_weeks": round(-60.0 * math.log(1 - r()), 1),
            "author_playtime_at_review": playtime,
            "author_last_played": float(ts_created),
            "sentiment": sentiment,
        }

    def event_time(self, frontier_day):
        """Event seconds near `frontier_day`; LATE_SHARE of them late."""
        r = self.rng.random
        day = frontier_day
        if r() < LATE_SHARE:
            day = max(0, day - 1 - int(r() * LATE_MAX_DAYS))
        return YEAR_START + day * DAY + int(r() * DAY)

    def backlog(self, n, start_index=0):
        """`n` records whose frontier day sweeps the year in order."""
        for i in range(n):
            day = min(YEAR_DAYS - 1, i * YEAR_DAYS // n)
            yield self.record(start_index + i, self.zipf_game(),
                              self.event_time(day))


def dumps(rec):
    return json.dumps(rec, separators=(",", ":"))


def write_lines(path, records):
    """Write JSON lines atomically: a file source must never see a partial
    file, so the data goes to a hidden temp name and is renamed in."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    n = 0
    with open(tmp, "w") as f:
        for rec in records:
            f.write(dumps(rec))
            f.write("\n")
            n += 1
    os.rename(tmp, path)
    return n


# --------------------------------------------------------------------------
# Registry tables (sf0.01 shape)
# --------------------------------------------------------------------------

DOC_VOCAB = ("a the key agg row scan slow fast table value part hash merge "
             "batch spark order data column join small line customer query "
             "big stream window sort group filter vector").split()


def _ts(col):
    return pa.array(col, type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def registry_tables(out_dir, seed, scale=1.0):
    """The ten registry tables; `scale` 1.0 gives the sf0.01 row counts."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line = int(15000 * scale), int(60000 * scale)
    n_events, n_docs, n_vecs = int(10000 * scale), int(500 * scale), int(500 * scale)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]})
    colors = ["red", "blue", "green", "small", "large", "steel", "brass"]
    things = ["widget", "bolt", "ring", "gear", "valve", "spring"]
    types = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(colors)} {rng.choice(things)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(types) for _ in range(n_part)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + i / 10, 2) for i in range(n_part)]})

    import datetime as dt
    epoch = dt.datetime(1992, 1, 1)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": _ts([epoch + dt.timedelta(days=rng.randrange(3650))
                            for _ in range(n_ord)]),
        "o_orderpriority": [rng.choice(prios) for _ in range(n_ord)]})
    li = {k: [] for k in ("ok", "pk", "sk", "ln", "q", "ep", "d", "t", "rf", "ls", "sd")}
    for _ in range(n_line):
        li["ok"].append(rng.randrange(n_ord))
        li["pk"].append(rng.randrange(n_part))
        li["sk"].append(rng.randrange(n_supp))
        li["ln"].append(rng.randint(1, 7))
        q = float(rng.randint(1, 50))
        li["q"].append(q)
        li["ep"].append(round(q * rng.uniform(900, 3000), 2))
        li["d"].append(rng.randint(0, 10) / 100)
        li["t"].append(rng.randint(0, 8) / 100)
        li["rf"].append(rng.choice("ANR"))
        li["ls"].append(rng.choice("OF"))
        li["sd"].append(epoch + dt.timedelta(days=rng.randrange(3700)))
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(li["ok"], pa.int64()),
        "l_partkey": pa.array(li["pk"], pa.int64()),
        "l_suppkey": pa.array(li["sk"], pa.int64()),
        "l_linenumber": pa.array(li["ln"], pa.int32()),
        "l_quantity": li["q"], "l_extendedprice": li["ep"],
        "l_discount": li["d"], "l_tax": li["t"],
        "l_returnflag": li["rf"], "l_linestatus": li["ls"],
        "l_shipdate": _ts(li["sd"])})

    ev_start = dt.datetime(2024, 1, 1)
    span_us = 30 * DAY * 1_000_000
    offsets = sorted(rng.randrange(span_us) for _ in range(n_events))
    etypes = ["click", "view", "purchase", "signup", "error"]
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts([ev_start + dt.timedelta(microseconds=o) for o in offsets]),
        "user_id": pa.array([rng.randrange(150) for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(etypes) for _ in range(n_events)],
        "value": [round(min(490.0, rng.expovariate(1 / 20.0)) + 0.01, 2)
                  for _ in range(n_events)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)]})

    langs = ["en"] * 3 + ["es", "zh", "de", "fr"]
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words edited
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(DOC_VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB)
                                  for _ in range(rng.randint(8, 90))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    dim, k = 64, 10
    cents = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(k)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        lab = rng.randrange(k)
        v = [c + rng.gauss(0, 0.6) for c in cents[lab]]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        vecs.append([x / norm for x in v])
        labels.append(lab)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
