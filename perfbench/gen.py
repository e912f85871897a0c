"""Seeded input generator for the graft benchmark.

Every input a workload reads is produced here from (workload, seed,
size); the program under test sees only the files written to the
output directory. Alongside the inputs the generator writes
`answers.json`: the planted facts the harness checks outputs against
(owner of each queried N-number, fleet counts, edit-distance-1 owner
pairs, near-twin documents and embeddings). Nothing here is read by
graft itself.

The generator is deterministic: the same (workload, seed, size) gives
byte-identical files, which `digest()` summarizes.
"""

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = ["AK", "AL", "AR", "AZ", "CA", "CO", "CT", "DE", "FL", "GA", "HI",
          "IA", "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME", "MI",
          "MN", "MO", "MS", "MT", "NC", "ND", "NE", "NH", "NJ", "NM", "NV",
          "NY", "OH", "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT",
          "VA", "VT", "WA", "WI", "WV", "WY"]
# a few dumps spell the state out; graft maps them to the USPS code
LONG_STATES = {"CA": "California", "TX": "Texas", "FL": "florida",
               "NY": "New York", "WA": "Washington"}
LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
MAKERS = ["CESSNA", "PIPER", "BEECH", "CIRRUS", "MOONEY", "BOEING", "AIRBUS",
          "EMBRAER", "BOMBARDIER", "DIAMOND", "ROBINSON", "BELL", "GRUMMAN",
          "LUSCOMBE", "AERONCA", "TAYLORCRAFT", "MAULE", "DEHAVILLAND"]
ENGINE_MAKERS = ["LYCOMING", "CONTINENTAL", "PRATT WHITNEY", "ROTAX",
                 "GENERAL ELECTRIC", "ROLLS ROYCE", "HONEYWELL", "WILLIAMS"]
STREET_KINDS = ["ST", "AVE", "RD", "BLVD", "DR", "LN", "WAY", "CT", "HWY"]
CORP_KINDS = ["LLC", "INC", "CORP", "CO", "LP", "TRUST"]
AVIATION = ["AVIATION", "AIR", "AERO", "FLIGHT", "JET", "WINGS", "HELI",
            "CHARTER", "LEASING", "SKY"]
MASTER_COLS = ["N-NUMBER ", "SERIAL NUMBER", "MFR MDL CODE", "ENG MFR MDL",
               "YEAR MFR", "TYPE AIRCRAFT", "STATUS CODE", "LAST ACTION DATE",
               "EXPIRATION DATE", "CERT ISSUE DATE", "CERTIFICATION",
               "MODE S CODE", "MODE S CODE HEX", "NAME", "STREET", "STREET2",
               "CITY", "STATE", "ZIP CODE", "TYPE REGISTRANT"]


def _syllable_words(rng, n, lo=2, hi=4):
    """n distinct pronounceable upper-case words."""
    cons, vows = "BCDFGHJKLMNPRSTVWZ", "AEIOU"
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(lo, hi)))
        if rng.random() < 0.5:
            w += rng.choice(cons)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _clean(s):
    """graft's Normalize.cleanText: trim, collapse spaces, upper."""
    return " ".join(s.split()).upper()


def _pad(s, rng):
    """FAA dumps are fixed-width: pad some fields with trailing blanks."""
    return s + " " * rng.randint(0, 6)


def registry(out, seed, n):
    """FAA-format MASTER/ACFTREF/ENGINE dumps of `n` aircraft."""
    rng = random.Random(seed)
    surnames = _syllable_words(rng, 4000)
    firsts = _syllable_words(rng, 800, 2, 3)
    cities = _syllable_words(rng, 1500, 2, 3)
    streets = _syllable_words(rng, 3000, 2, 3)
    n_models = max(50, n // 60)
    n_engines = max(20, n // 300)

    models = []  # (code, maker)
    with open(os.path.join(out, "ACFTREF.txt"), "w") as f:
        f.write("CODE,MFR,MODEL,TYPE-ACFT,TYPE-ENG,AC-CAT,BUILD-CERT-IND,"
                "NO-ENG,NO-SEATS,AC-WEIGHT,SPEED\n")
        for i in range(n_models):
            code = "%07d" % (1000000 + i * 7)
            maker = rng.choice(MAKERS)
            models.append((code, maker))
            f.write("%s,%s,%s,%d,%d,%d,0,%d,%d,CLASS %d,%d\n" % (
                code, _pad(maker, rng),
                "%s-%d" % (rng.choice(LETTERS), rng.randint(100, 999)),
                rng.randint(1, 9), rng.randint(0, 11), rng.randint(1, 3),
                rng.randint(1, 4), rng.randint(1, 400), rng.randint(1, 4),
                rng.randint(60, 600)))
    engines = []
    with open(os.path.join(out, "ENGINE.txt"), "w") as f:
        f.write("CODE,MFR,MODEL,TYPE,HORSEPOWER,THRUST\n")
        for i in range(n_engines):
            code = "%05d" % (10000 + i * 3)
            engines.append(code)
            f.write("%s,%s,%s,%d,%d,%d\n" % (
                code, _pad(rng.choice(ENGINE_MAKERS), rng),
                "%s%d" % (rng.choice(LETTERS), rng.randint(100, 9999)),
                rng.randint(0, 11), rng.randint(0, 2000),
                rng.randint(0, 90000)))

    # fleet owners: a few corporations holding many aircraft each
    n_fleets = 40
    fleets = []
    for i in range(n_fleets):
        name = "%s %s %s %s" % (rng.choice(surnames), rng.choice(surnames),
                                rng.choice(AVIATION), rng.choice(CORP_KINDS))
        fleets.append((name, rng.sample(STATES, rng.randint(1, 3))))
    fleet_share = 0.15

    # N-numbers: unique, digit-led, up to 5 characters + letters
    ids = list(range(n))
    rng.shuffle(ids)
    rows = []  # per aircraft: the fields the planted answers need
    lines = []
    for i in range(n):
        k = ids[i]
        nn = "%d%s%s" % (1 + k // 676, LETTERS[(k // 26) % 26], LETTERS[k % 26])
        code, maker = models[rng.randrange(n_models)]
        u = rng.random()
        if u < fleet_share:
            name, st_opts = fleets[rng.randrange(n_fleets)]
            state = rng.choice(st_opts)
            otype = "3"
        elif u < 0.8:
            name = "%s %s %s" % (rng.choice(surnames), rng.choice(firsts),
                                 rng.choice(LETTERS))
            state = rng.choice(STATES)
            otype = "1"
        else:
            name = "%s %s %s" % (rng.choice(surnames), rng.choice(AVIATION),
                                 rng.choice(CORP_KINDS))
            state = rng.choice(STATES)
            otype = rng.choice("2345789")
        street = "%d %s %s" % (rng.randint(1, 9999), rng.choice(streets),
                               rng.choice(STREET_KINDS))
        street2 = ("SUITE %d" % rng.randint(1, 999)) if rng.random() < 0.2 else ""
        city = rng.choice(cities)
        year = rng.randint(1940, 2024)
        status = rng.choice("VVVVVVVNRTAE")
        rows.append({"nn": nn, "name": name, "state": state, "maker": maker,
                     "year": year, "status": status, "city": city,
                     "street": street, "street2": street2})
        raw_name = name
        if rng.random() < 0.1:  # messy spacing / case in the raw dump
            raw_name = " " + name.replace(" ", "  ", 1).lower() + " "
        raw_state = state
        if state in LONG_STATES and rng.random() < 0.3:
            raw_state = LONG_STATES[state]
        lines.append(",".join([
            _pad(nn, rng), "SN%07d" % rng.randint(0, 9999999), code,
            engines[rng.randrange(n_engines)], str(year),
            str(rng.randint(1, 9)), status,
            "%d%02d%02d" % (rng.randint(2000, 2024), rng.randint(1, 12),
                            rng.randint(1, 28)),
            "%d%02d%02d" % (rng.randint(2025, 2030), rng.randint(1, 12),
                            rng.randint(1, 28)),
            "%d%02d%02d" % (rng.randint(1960, 2024), rng.randint(1, 12),
                            rng.randint(1, 28)),
            str(rng.randint(1, 9)), "%08d" % rng.randint(0, 99999999),
            "%06X" % rng.randint(0, 0xFFFFFF), _pad(raw_name, rng),
            _pad(street, rng), street2, _pad(city, rng), raw_state,
            "%05d-%04d" % (rng.randint(0, 99999), rng.randint(0, 9999)),
            otype]))

    # planted edit-distance-1 owner pairs: a second aircraft whose owner
    # name differs from an individual owner's by one substituted letter
    # past the blocking prefix, registered in the same state
    planted = []
    used = set()
    while len(planted) < max(10, n // 1000):
        i = rng.randrange(n)
        j = rng.randrange(n)
        if i == j or i in used or j in used:
            continue
        a = rows[i]
        if not a["name"][0].isalpha() or len(a["name"]) < 8 \
                or lines[i].endswith(",3"):
            continue
        pos = rng.randrange(4, len(a["name"]))
        if a["name"][pos] == " ":
            continue
        new = a["name"][:pos] + rng.choice(
            [c for c in LETTERS if c != a["name"][pos]]) + a["name"][pos + 1:]
        used.update((i, j))
        b = rows[j]
        b["name"], b["state"] = new, a["state"]
        f = lines[j].split(",")
        f[13], f[17] = new, a["state"]
        lines[j] = ",".join(f)
        planted.append(sorted([_clean(a["name"]), new]))

    with open(os.path.join(out, "MASTER.txt"), "w") as f:
        f.write(",".join(MASTER_COLS) + "\n")
        f.write("\n".join(lines))
        f.write("\n")

    answers = _registry_answers(rng, rows, fleets, planted, n_models,
                                n_engines)
    with open(os.path.join(out, "answers.json"), "w") as f:
        json.dump(answers, f, sort_keys=True)
    return {"rows": {"MASTER": n, "ACFTREF": n_models, "ENGINE": n_engines}}


def _owner_tokens(r):
    addr = " ".join(x for x in (_clean(r["street"]), _clean(r["street2"])) if x)
    return set(" ".join([_clean(r["name"]), addr, _clean(r["city"]),
                         r["state"]]).split())


def _registry_answers(rng, rows, fleets, planted, n_models, n_engines):
    n = len(rows)
    calls = []
    # point lookups: the owner and maker of a queried N-number, typed
    # the way users type it (leading N, stray blanks, lower case)
    for _ in range(5):
        r = rows[rng.randrange(n)]
        shown = rng.choice(["%s", "N%s", " n%s ", "%s "]) % r["nn"]
        calls.append({"op": "search", "arg": shown, "expect": {
            "n_number": r["nn"], "owner_name": _clean(r["name"]),
            "maker": r["maker"]}})
    # fleet: pipe-separated OR terms over owner names, one state
    by_state = {}
    for r in rows:
        by_state.setdefault(r["state"], []).append(r)
    for _ in range(3):
        name, states = fleets[rng.randrange(len(fleets))]
        term = " ".join(name.split()[:2]).lower()
        terms = [term]
        if rng.random() < 0.3:
            other = fleets[rng.randrange(len(fleets))][0]
            terms.append(" ".join(other.split()[:2]).lower())
        st = rng.choice(states)
        want = sorted(r["nn"] for r in by_state[st]
                      if any(t in _clean(r["name"]).lower() for t in terms))
        calls.append({"op": "fleet", "arg": "|".join(terms), "state": st,
                      "expect": want})
    # full-text owner search: AND of two tokens of one owner record
    fts = []
    for _ in range(3):
        r = rows[rng.randrange(n)]
        toks = sorted(_owner_tokens(r))
        fts.append(rng.sample(toks, 2))
    need = {t for q in fts for t in q}
    hits = {t: set() for t in need}
    for r in rows:
        for t in _owner_tokens(r) & need:
            hits[t].add(r["nn"])
    for q in fts:
        calls.append({"op": "fts", "arg": q,
                      "expect": sorted(hits[q[0]] & hits[q[1]])})
    # ad-hoc SQL over the registered views
    for _ in range(3):
        kind = rng.randrange(3)
        if kind == 0:
            maker, y = rng.choice(MAKERS), rng.randint(1950, 2020)
            sql = ("SELECT COUNT(*) AS n FROM aircraft_decoded "
                   "WHERE maker = '%s' AND year_mfr >= %d" % (maker, y))
            want = [[sum(1 for r in rows
                         if r["maker"] == maker and r["year"] >= y)]]
        elif kind == 1:
            s1, s2 = sorted(rng.sample(STATES, 2))
            sql = ("SELECT state, COUNT(*) AS n FROM owners_clean WHERE "
                   "state IN ('%s', '%s') GROUP BY state ORDER BY state"
                   % (s1, s2))
            want = [[s, sum(1 for r in rows if r["state"] == s)]
                    for s in (s1, s2)]
        else:
            y = rng.randint(1950, 2020)
            sql = ("SELECT status_code, COUNT(*) AS n FROM aircraft_decoded "
                   "WHERE year_mfr < %d GROUP BY status_code "
                   "ORDER BY status_code" % y)
            cnt = {}
            for r in rows:
                if r["year"] < y:
                    cnt[r["status"]] = cnt.get(r["status"], 0) + 1
            want = [[s, cnt[s]] for s in sorted(cnt)]
        calls.append({"op": "sql", "arg": sql, "expect": want})
    rng.shuffle(calls)
    # a few metadata calls, spread through the mix
    counts = {"aircraft": n, "registrations": n, "owners": n,
              "aircraft_make_model": n_models, "engines": n_engines}
    calls.insert(len(calls) // 3, {"op": "status", "expect": counts})
    calls.insert(2 * len(calls) // 3, {"op": "status", "expect": counts})
    calls.insert(len(calls) // 2,
                 {"op": "schema", "arg": "aircraft_decoded", "expect": 19})
    calls.append({"op": "schema", "arg": "owners", "expect": 14})
    return {"calls": calls, "linkage_pairs": planted}


def _unit(x):
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def embeddings(seed, n, dim=64, twin_share=0.02, twin_cos=0.95):
    """Unit-norm gaussian vectors; `twin_share` of them are planted
    twins at cosine ~`twin_cos` of an earlier vector."""
    g = np.random.Generator(np.random.PCG64(seed))
    v = _unit(g.standard_normal((n, dim)))
    n_twins = int(n * twin_share)
    twin_rows = g.choice(np.arange(n // 2, n), n_twins, replace=False)
    srcs = g.choice(np.arange(0, n // 2), n_twins, replace=False)
    noise = g.standard_normal((n_twins, dim))
    noise -= (noise * v[srcs]).sum(1, keepdims=True) * v[srcs]
    noise = _unit(noise)
    s = np.sqrt(1 - twin_cos ** 2)
    v[twin_rows] = twin_cos * v[srcs] + s * noise
    v = _unit(v).astype(np.float32)
    pairs = sorted([int(a), int(b)] for a, b in zip(srcs, twin_rows))
    return v, pairs


def _emb_table(v, ids):
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32()))})


def corpus(out, seed, n_docs, n_vecs):
    """Docs with planted near-twins + embeddings with planted twins."""
    rng = random.Random(seed)
    vocab = _syllable_words(rng, 3000, 1, 3)
    g = np.random.Generator(np.random.PCG64(seed + 1))
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    docs = []
    for _ in range(n_docs):
        ln = rng.randint(30, 80)
        docs.append([vocab[k] for k in g.choice(len(vocab), ln, p=weights)])
    twins = []
    for b in rng.sample(range(n_docs // 2, n_docs), n_docs // 20):
        a = rng.randrange(0, n_docs // 2)
        d = list(docs[a])
        for _ in range(rng.randint(1, 2)):
            d[rng.randrange(len(d))] = rng.choice(vocab)
        docs[b] = d
        twins.append(sorted([a, b]))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), type=pa.int64()),
        "text": pa.array([" ".join(d) for d in docs])}),
        os.path.join(out, "docs.parquet"), compression="snappy")
    v, vtwins = embeddings(seed + 2, n_vecs)
    pq.write_table(_emb_table(v, range(n_vecs)),
                   os.path.join(out, "embeddings.parquet"),
                   compression="snappy")
    with open(os.path.join(out, "answers.json"), "w") as f:
        json.dump({"doc_twins": sorted(twins), "vec_twins": vtwins}, f)
    return {"rows": {"docs": n_docs, "embeddings": n_vecs}}


def stream(out, seed, n_vecs, n_files):
    """The corpus embedding family split into `n_files` stream files."""
    v, vtwins = embeddings(seed + 2, n_vecs)
    os.makedirs(os.path.join(out, "stream"))
    bounds = np.linspace(0, n_vecs, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        pq.write_table(_emb_table(v[lo:hi], range(lo, hi)),
                       os.path.join(out, "stream", "part-%03d.parquet" % f),
                       compression="snappy")
    with open(os.path.join(out, "answers.json"), "w") as f:
        json.dump({"vec_twins": vtwins}, f)
    return {"rows": {"embeddings": n_vecs, "files": n_files}}


def digest(out):
    """SHA-256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def input_bytes(out):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(out) for f in fs
               if f != "answers.json")


def canary(out):
    """A tiny input of every kind at seed 0: its digest is recorded, so
    any change to the generator's output is caught whatever the seed."""
    for sub in ("registry", "corpus", "stream"):
        os.makedirs(os.path.join(out, sub))
    registry(os.path.join(out, "registry"), 0, 3000)
    corpus(os.path.join(out, "corpus"), 0, 200, 200)
    stream(os.path.join(out, "stream"), 0, 200, 4)
