"""Seeded raw-event CSV corpus for the etl_anchor workload, and its facts.

The corpus has the shape of tools/gen_anchor.py (the E1 anchor), scaled
down by `scale`: 8 collection files, one of which (milady) carries the
optional rarity columns; body rows in a transfer > sale > mint mix, only
sales priced; two anchor rows pinning the date range; verbatim duplicate
rows; and negative-price rows that carry every other audit violation
(out-of-range timestamps, malformed sellers, null collections, unknown
event types). The seed drives the timestamps and the size of every
planted group, and `generate` returns the counts the ETL must report.
"""
import datetime
import os
import random

T0, T1 = 1619049600, 1760572800  # 2021-04-22T00Z, 2025-10-16T00Z
MIN_DATE, MAX_DATE = "2021-04-22", "2025-10-16"
COLLECTIONS = [  # name -> clean body rows of the full-size anchor
    ("azuki", 420_000), ("clonex", 350_000), ("pudgypenguins", 260_000),
    ("boredapeyachtclub", 210_000), ("milady", 150_000),
    ("cool-cats-nft", 90_000), ("shadow-a", 50_000), ("shadow-b", 27_805),
]
RARITY_COLLECTION = "milady"
TOKENS = 9973
HEADER = ("chain,collection,identifier,event_type,time_utc,timestamp,tx,"
          "seller,buyer,from_address,to_address,quantity,price_total,"
          "currency_symbol,contract,token_id,price_each")
SELLER = "0xAAaAaAAAaaaAAaaAAAaaaaAAaAaaaAAaAAAaaB12"
BUYER = "0xBBbBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBB34"
MIX = ("sale", "sale", "mint", "transfer", "transfer", "transfer", "transfer")


def _row(row_id, coll, et, ts, rarity=None):
    price = f"{1 + row_id % 50}.25" if et == "sale" else "0.0"
    line = (f"ethereum,{coll},{row_id},{et},,{ts},0xT{row_id},"
            f"{SELLER},{BUYER},{SELLER},{BUYER},"
            f"1,{price},ETH,0xC1,tok{row_id % TOKENS},")
    if rarity is not None:
        line += f",{rarity},{rarity / 10.0}"
    return line


def _date(ts):
    return datetime.datetime.fromtimestamp(
        ts, datetime.timezone.utc).date().isoformat()


def generate(out_dir, seed, scale):
    """Writes the corpus into `out_dir`; returns its planted facts."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    # planted group sizes: seeded, proportional to the corpus size
    unit = max(1, sum(n for _, n in COLLECTIONS) // scale // 1000)
    n_dups = unit * 4 + rnd.randrange(unit + 1)
    bad = {k: unit // 5 + 1 + rnd.randrange(unit // 10 + 2)
           for k in ("out_of_range", "bad_seller", "null_collection",
                     "unknown_type", "plain")}

    row_id = 0
    clean = []  # (collection, event_type, ts, token) of every clean row
    for ci, (coll, full) in enumerate(COLLECTIONS):
        rarity = coll == RARITY_COLLECTION
        lines = [HEADER + (",rarity_rank,rarity_score" if rarity else "")]
        for i in range(full // scale):
            row_id += 1
            et = MIX[i % len(MIX)]
            ts = T0 + rnd.randrange(T1 - T0)
            lines.append(_row(row_id, coll, et, ts,
                              i % 10_000 + 1 if rarity else None))
            clean.append((coll, et, ts, row_id % TOKENS))
        if ci == 0:
            dups = lines[1:1 + n_dups]  # same key -> one duplicate key each
            for ts in (T0, T1):  # anchors pin both ends of the date range
                row_id += 1
                lines.append(_row(row_id, coll, "transfer", ts))
                clean.append((coll, "transfer", ts, row_id % TOKENS))
            lines += dups
            lines += _negatives(coll, bad)
        with open(os.path.join(out_dir, f"{coll}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")

    n_negative = sum(bad.values())
    def counts(key):
        out = {}
        for r in clean:
            out[key(r)] = out.get(key(r), 0) + 1
        return out
    return {
        "raw_rows": len(clean) + n_dups + n_negative,
        "clean_rows": len(clean),
        "duplicate_keys": n_dups,
        "negative_prices": n_negative,
        "out_of_range_timestamps": bad["out_of_range"],
        "invalid_sellers": bad["bad_seller"],
        "null_collections": bad["null_collection"],
        "invalid_event_types": {"airdrop": bad["unknown_type"]},
        "date_min": MIN_DATE,
        "date_max": MAX_DATE,
        "collections": counts(lambda r: r[0]),
        "event_types": counts(lambda r: r[1]),
        "priced_rows": sum(1 for r in clean if r[1] == "sale"),
        "total_tokens": len({r[3] for r in clean}),
        "daily_rows": len({(r[0], _date(r[2])) for r in clean}),
        "token_rows": len({(r[0], r[3]) for r in clean}),
    }


def _negatives(coll, bad):
    """Negative-price rows: dropped by the cleaner, each carrying at most
    one other violation, so every audit count is exact."""
    rows = []
    i = 0
    for kind in ("out_of_range", "bad_seller", "null_collection",
                 "unknown_type", "plain"):
        for _ in range(bad[kind]):
            ts = 100 + i if kind == "out_of_range" else T0 + i
            seller = "JUNK" if kind == "bad_seller" else ""
            c = "" if kind == "null_collection" else coll
            et = "airdrop" if kind == "unknown_type" else "sale"
            rows.append(f"ethereum,{c},neg{i},{et},,{ts},0xN{i},"
                        f"{seller},,,,1,-5.0,ETH,0xC1,tokneg{i},")
            i += 1
    return rows


def warmup_copy(src, dst, rows):
    """Each CSV of `src` cut to its header and first `rows` lines: the
    input of RunPipeline's warmup pass, with the same files and schemas."""
    os.makedirs(dst, exist_ok=True)
    for name in sorted(os.listdir(src)):
        with open(os.path.join(src, name)) as f:
            head = [line for _, line in zip(range(rows + 1), f)]
        with open(os.path.join(dst, name), "w") as f:
            f.writelines(head)
