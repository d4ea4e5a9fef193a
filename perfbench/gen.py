"""Seeded input generator for the graft benchmark.

Every workload's inputs are synthesized from ``--seed`` alone, so the same
seed always yields byte-identical files.  The program under test only ever
sees the files written here.  Besides the inputs, the generator returns
the row count the published output must have where it knows it (a
correctness check for seeds without a committed digest) and the measured
input shares each workload reports next to its results.

Shapes:

- The corpus and the event log follow ``shapes.json``, which
  ``shapes.py`` measured from the sf0.1 test tables: token-count and word
  distributions, exact and near-duplicate shares, embedding label centres
  and spread, event-type shares, inter-arrival gaps, values and users per
  event.
- The clinic roster stands in for the reference pipeline's scraped roster,
  whose data is not available offline. From the reference come its 10 rows
  per page, the yes/no result sets, the HTML anchors, the '無'/'是'
  fields and the address variants the geocoder expands (臺/台,
  Chinese numerals, lanes and alleys, hyphenated numbers). Its counties
  are Taiwan's six special municipalities. The shares marked ASSUMED
  below are not measured: every run prints the shares it drew, so a change
  that helps only inputs with some property can report that share.
"""

import json
import math
import os
import random

# roster_daily is runnable by hand; BENCHMARK.json lists the other three
WORKLOADS = ("roster_full", "roster_daily", "corpus_curate", "event_stream")

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "shapes.json")) as _f:
    SHAPES = json.load(_f)

# 10 rows per page, as the reference's paged API serves them
PAGE_ROWS = 10
# ASSUMED roster shares: clinics in both result sets, duplicate keys per
# result set, '無' in this_week and in note
YES_NO_OVERLAP, DUP_KEY_SHARE, WU_WEEK, WU_NOTE = 0.2, 0.08, 0.3, 0.5

# sizes per scale; "tiny" is for the benchmark's own self-test
SIZES = {
    "full": dict(clinics=2400, docs=5000, bench_docs=250,
                 event_files=8, events_per_file=500),
    "tiny": dict(clinics=240, docs=300, bench_docs=20,
                 event_files=12, events_per_file=40),
}

COUNTIES = [("臺北市", "台北市", ["大安區", "信義區", "中山區", "松山區"]),
            ("臺中市", "台中市", ["北區", "西屯區", "南屯區"]),
            ("臺南市", "台南市", ["安平區", "東區", "中西區"]),
            ("高雄市", None, ["左營區", "苓雅區", "三民區"]),
            ("新北市", None, ["板橋區", "中和區", "新店區"]),
            ("桃園市", None, ["中壢區", "桃園區"])]
ROADS = ["中山北路", "民生東路", "和平東路", "信義路", "復興南路", "建國路",
         "五權西路", "中正路", "光復路", "文化路"]
ZH = ["", "一", "二", "三", "四", "五", "六", "七", "八", "九"]
ORG_KINDS = ["診所", "耳鼻喉科診所", "家醫科診所", "小兒科診所", "內科診所"]
ORG_WORDS = ["仁心", "康健", "安和", "博愛", "同心", "永康", "惠民", "長青"]


def zh_number(n):
    """1..99 in Chinese numerals (十二, 二十, 三十五)."""
    tens, ones = divmod(n, 10)
    head = "" if tens == 0 else ("十" if tens == 1 else ZH[tens] + "十")
    return head + ("" if ones == 0 else ZH[ones])


def address(rng, flags):
    """One TW address; `flags` records which variants it carries. The
    share of each variant is ASSUMED."""
    canon, alt, districts = rng.choice(COUNTIES)
    county = canon
    if alt and rng.random() < 0.5:
        county = alt
        flags["tai"] = True
    parts = []
    if rng.random() < 0.2:
        parts.append(f"{rng.randint(100, 999)} ")
    parts += [county, rng.choice(districts)]
    if rng.random() < 0.1:
        parts.append("關東里")
    parts.append(rng.choice(ROADS))
    r = rng.random()
    if r < 0.25:
        parts.append(ZH[rng.randint(1, 5)] + "段")
        flags["zh_numeral"] = True
    elif r < 0.45:
        parts.append(f"{rng.randint(1, 5)}段")
    r = rng.random()
    if r < 0.2:
        parts.append(zh_number(rng.randint(1, 40)) + "巷")
        flags["zh_numeral"] = True
    elif r < 0.5:
        parts.append(f"{rng.randint(1, 300)}巷")
    if rng.random() < 0.25:
        parts.append(f"{rng.randint(1, 20)}弄")
    num = str(rng.randint(1, 400))
    if rng.random() < 0.2:
        num += f"-{rng.randint(1, 9)}"
    parts.append(num + "號")
    if rng.random() < 0.3:
        parts.append(f"{rng.randint(1, 12)}樓")
    if rng.random() < 0.1:
        parts.append("(轉角)")
    return canon, "".join(parts)


def clinic(rng, cid):
    flags = {}
    county, addr = address(rng, flags)
    name = rng.choice(ORG_WORDS) + rng.choice(ORG_KINDS) + str(cid % 97)
    has_site = rng.random() < 0.8
    return {
        "id": cid, "name": name, "county": county, "address": addr,
        "phone": f"(0{rng.randint(2, 8)}) {rng.randint(2000, 8999)}-{cid:05d}",
        "site": f"https://www.clinic{cid}.example.tw/" if has_site else None,
        "flags": flags,
    }


def roster_rows(rng, clinics, overlap, dup_share):
    """yes/no result sets as row lists, with overlap and duplicate keys."""
    yes, no = [], []
    for c in clinics:
        r = rng.random()
        sides = ["yes", "no"] if r < overlap else (["yes"] if r < (1 + overlap) / 2 else ["no"])
        for side in sides:
            tw = "無" if rng.random() < WU_WEEK else str(rng.randint(0, 40))
            row = {
                "id": c["id"],
                "org": f"<a href='https://clinic.example.tw/c/{c['id']}?utm_source=x'>"
                       f"{c['name']} &amp; 分院</a>",
                "county": c["county"], "address": c["address"], "phone": c["phone"],
                "website": c["site"], "this_week": tw,
                "in_4_weeks": str(rng.randint(0, 120)),
                "open": "是" if side == "yes" else rng.choice(["是", "否"]),
                "note": "無" if rng.random() < WU_NOTE else "需預約",
            }
            (yes if side == "yes" else no).append(row)
    for rows in (yes, no):
        dups = [dict(r, in_4_weeks="0", note="重複") for r in rows if rng.random() < dup_share]
        rows.extend(dups)
        rng.shuffle(rows)
    return yes, no


def write_pages(dirname, rows, page_rows):
    os.makedirs(dirname, exist_ok=True)
    for p in range(math.ceil(len(rows) / page_rows)):
        with open(os.path.join(dirname, f"page_{p}.json"), "w", encoding="utf-8") as f:
            json.dump(rows[p * page_rows:(p + 1) * page_rows], f, ensure_ascii=False)


def from_quantiles(rng, qs):
    """A draw from the distribution given by equally spaced quantiles."""
    pos = rng.random() * (len(qs) - 1)
    i = min(int(pos), len(qs) - 2)
    return qs[i] + (qs[i + 1] - qs[i]) * (pos - i)


def share(n, d):
    return round(n / d, 4) if d else 0.0


def gen_roster(rng, out, size, daily):
    n = size["clinics"]
    day0 = [clinic(rng, i) for i in range(n)]
    yes0, no0 = roster_rows(rng, day0, overlap=YES_NO_OVERLAP, dup_share=DUP_KEY_SHARE)
    write_pages(os.path.join(out, "day0", "yes"), yes0, PAGE_ROWS)
    write_pages(os.path.join(out, "day0", "no"), no0, PAGE_ROWS)
    truth = {}
    if not daily:
        rows = yes0 + no0
        ids_yes = {r["id"] for r in yes0}
        ids_no = {r["id"] for r in no0}
        distinct = len(ids_yes | ids_no)
        truth["rows"] = n
        truth["shares"] = {
            "dup_key_share": share(len(rows) - len(ids_yes) - len(ids_no), len(rows)),
            "yes_no_overlap": share(len(ids_yes & ids_no), distinct),
            "wu_share": share(sum(r["this_week"] == "無" for r in rows), len(rows)),
            "shi_share": share(sum(r["open"] == "是" for r in rows), len(rows)),
            "tai_variant_share": share(sum("tai" in c["flags"] for c in day0), n),
            "zh_numeral_share": share(sum("zh_numeral" in c["flags"] for c in day0), n),
        }
        return truth
    # day 1: ASSUMED shares of closed (3%), re-phoned (3%), moved (3%) and
    # new (5%) clinics
    kept, by_phone, by_domain, moved, new = [], 0, 0, 0, 0
    for c in day0:
        r = rng.random()
        if r < 0.03:
            continue  # closed
        c = dict(c)
        if r < 0.06 and c["site"]:
            c["phone"] = f"(0{rng.randint(2, 8)}) 9{rng.randint(100, 999)}-{c['id']:05d}"
            by_domain += 1  # phone changed, website still matches
        else:
            by_phone += 1
        if 0.06 <= r < 0.09:
            c["county"], c["address"] = address(rng, {})
            moved += 1
        kept.append(c)
    for i in range(n, n + int(n * 0.05)):
        kept.append(clinic(rng, i))
        new += 1
    yes1, no1 = roster_rows(rng, kept, overlap=YES_NO_OVERLAP, dup_share=DUP_KEY_SHARE)
    write_pages(os.path.join(out, "day1", "yes"), yes1, PAGE_ROWS)
    write_pages(os.path.join(out, "day1", "no"), no1, PAGE_ROWS)
    m = len(kept)
    truth["rows"] = m
    truth["shares"] = {
        "match_phone_share": share(by_phone, m),
        "match_domain_share": share(by_domain, m),
        "reach_geocode_share": share(moved + new, m),
    }
    return truth


def warc_record(headers, payload):
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    head += f"Content-Length: {len(payload)}\r\n\r\n"
    return head.encode("utf-8") + payload + b"\r\n\r\n"


def gen_corpus(rng, out, size):
    d, e = SHAPES["documents"], SHAPES["embeddings"]
    words = [w for w, _ in d["word_counts"]]
    weights = [n for _, n in d["word_counts"]]

    def draw_text():
        n = round(from_quantiles(rng, d["token_quantiles"]))
        return " ".join(rng.choices(words, weights, k=n))

    n = size["docs"]
    docs, exact, near = [], 0, 0
    for i in range(n):
        r = rng.random()
        if docs and r < d["exact_dup_share"]:
            docs.append((i, rng.choice(docs)[1]))
            exact += 1
        elif docs and r < d["exact_dup_share"] + d["near_dup_share"]:
            docs.append((i, rng.choice(docs)[1] + " " + d["near_dup_suffix"]))
            near += 1
        else:
            docs.append((i, draw_text()))
    warc = os.path.join(out, "warc")
    os.makedirs(warc, exist_ok=True)
    shards = 4
    for s in range(shards):
        with open(os.path.join(warc, f"part-{s:05d}.warc"), "wb") as f:
            f.write(warc_record([("WARC-Type", "warcinfo"),
                                 ("WARC-Record-ID", f"urn:bench:warcinfo-{s}"),
                                 ("WARC-Date", "2026-01-01T00:00:00Z"),
                                 ("Content-Type", "application/warc-fields")],
                                b"software: perfbench\r\n"))
            for doc_id, text in docs[s::shards]:
                f.write(warc_record([("WARC-Type", "resource"),
                                     ("WARC-Record-ID", f"urn:bench:doc-{doc_id}"),
                                     ("WARC-Date", "2026-01-01T00:00:00Z"),
                                     ("WARC-Target-URI", f"https://corpus.example/doc/{doc_id}"),
                                     ("Content-Type", "text/plain")],
                                    text.encode("utf-8")))
    os.makedirs(os.path.join(out, "bench"), exist_ok=True)
    with open(os.path.join(out, "bench", "bench.json"), "w", encoding="utf-8") as f:
        for j in range(size["bench_docs"]):
            # ASSUMED: half the eval set leaks verbatim from the corpus
            t = rng.choice(docs)[1] if j % 2 == 0 else draw_text()
            f.write(json.dumps({"doc_id": 10_000_000 + j, "text": t}) + "\n")
    os.makedirs(os.path.join(out, "emb"), exist_ok=True)
    labels = range(len(e["centroids"]))
    with open(os.path.join(out, "emb", "emb.json"), "w", encoding="utf-8") as f:
        for doc_id, _ in docs:
            c = e["centroids"][rng.choices(labels, e["label_shares"])[0]]
            v = [x + rng.gauss(0, e["residual_std"]) for x in c]
            norm = math.sqrt(sum(x * x for x in v))
            f.write(json.dumps({"doc_id": doc_id, "source": f"src{doc_id % d['sources']}",
                                "embedding": [round(x / norm, 6) for x in v]}) + "\n")
    return {"shares": {"exact_dup_share": share(exact, n), "near_dup_share": share(near, n)}}


def gen_events(rng, out, size):
    """Event files, one per trigger. The user ids of file k are offset by
    (k % 4) * 1e9, the way ScaleSmoke remaps users per sf0.1 replica."""
    e = SHAPES["events"]
    files, per = size["event_files"], size["events_per_file"]
    n_users = max(1, round(files * per * e["users"] / e["rows"]))
    types, shares = zip(*sorted(e["type_shares"].items()))
    t0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z in ms
    eid, ts = 0, float(t0)
    ids, groups, users = set(), set(), set()
    os.makedirs(out, exist_ok=True)
    for fi in range(files):
        rows = []
        for _ in range(per):
            if rows and rng.random() < e["redelivered_share"]:
                rows.append(dict(rng.choice(rows)))
                continue
            ts += 1000 * from_quantiles(rng, e["gap_s_quantiles"])
            user = rng.randrange(n_users) + 1_000_000_000 * (fi % 4)
            ev = {"event_id": eid, "ts_ms": int(ts), "user_id": user,
                  "event_type": rng.choices(types, shares)[0],
                  "value": round(from_quantiles(rng, e["value_quantiles"]), 2)}
            eid += 1
            rows.append(ev)
            ids.add(ev["event_id"])
            users.add(user)
            groups.add((ev["ts_ms"] // 3_600_000, ev["event_type"]))
        with open(os.path.join(out, f"batch_{fi:05d}.json"), "w") as f:
            f.write("".join(json.dumps(r) + "\n" for r in rows))
    return {"rows": len(groups),
            "shares": {"events_per_trigger": per, "distinct_keys": len(ids),
                       "distinct_users": len(users)}}


def generate(workload, seed, out, scale="full"):
    """Write `workload`'s inputs for `seed` under `out`; return
    {"rows": published row count (when known), "shares": input shares}."""
    rng = random.Random(f"{workload}:{seed}")
    size = SIZES[scale]
    if workload in ("roster_full", "roster_daily"):
        truth = gen_roster(rng, os.path.join(out, "roster"), size, workload == "roster_daily")
    elif workload == "corpus_curate":
        truth = gen_corpus(rng, os.path.join(out, "corpus"), size)
    elif workload == "event_stream":
        truth = gen_events(rng, os.path.join(out, "events"), size)
    else:
        raise ValueError(f"unknown workload {workload}")
    return truth
