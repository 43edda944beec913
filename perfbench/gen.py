"""Seeded input generators for the benchmark workloads.

Every generator writes the files the program reads plus the ground truth
the output checks use. The truth comes from the generator's own model of
the data (canonical values chosen before they are rendered into the messy
export), never from the program. Outputs are cached by (workload, seed,
scale) under the given root: a directory holding a `DONE` marker is
complete and is reused as is.

    python3 perfbench/gen.py <workload> <seed> <scale> <root>
"""
import json
import os
import random
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per scale. "full" is what the benchmark measures, "double" is the
# same workload at twice a warm pass's input (the work-dominance check; for
# ANN the query batch, half the queries, doubles over the same index) and
# "smoke" is the tiny size the self-test uses.
SIZES = {
    "users_full_load": {"full": {"persons": 20000}, "double": {"persons": 40000},
                        "smoke": {"persons": 1500}},
    "users_resync": {"full": {"persons": 20000}, "double": {"persons": 40000},
                     "smoke": {"persons": 1500}},
    "corpus_curate": {"full": {"base_docs": 1000}, "double": {"base_docs": 2000},
                      "smoke": {"base_docs": 600}},
    "ann_serve": {"full": {"vectors": 50000, "queries": 2048, "clusters": 64},
                  "double": {"vectors": 50000, "queries": 4096, "clusters": 64},
                  "smoke": {"vectors": 4000, "queries": 128, "clusters": 16}},
}

# ---------------------------------------------------------------- users

STATUS_SPELLINGS = {
    "ACTIVE": ["ACTIVE", "active", "Actif", "actif", " enabled ", "ENABLED"],
    "INACTIVE": ["INACTIVE", "inactive", "Inactif", "disabled", " DISABLED"],
    "BANNED": ["BANNED", "banned", "Banni", "BLOCKED", "blocked "],
}
NULL_TOKENS = ["nan", "None", "", "null", "NaN"]
CITIES = ["Paris", "Lyon", "Marseille", "Toulouse", "Nice", "Nantes", "Lille",
          "Bordeaux", "Montreal", "Dakar", "Casablanca", "Algiers", "Tunis",
          "Geneva", "Brussels", "Quebec"]
FIRST = ["Alice", "Bob", "Chloe", "David", "Emma", "Farid", "Gabriel", "Hugo",
         "Ines", "Jade", "Karim", "Lea", "Manon", "Nathan", "Yasmine", "Zoe"]
INTERESTS = ["music", "sports", "reading", "hiking", "cooking", "travel",
             "gaming", "art", "cinema", "tech", "photo", "dance"]
T0 = 1546300800  # 2019-01-01T00:00:00Z
SPAN = 5 * 365 * 86400


def render_ts(rng, t):
    """Render epoch seconds `t` in one of the export's encodings; returns
    (json value, expected epoch milliseconds after parsing)."""
    k = rng.randrange(5)
    if k == 0:
        return t, t * 1000
    if k == 1:
        ms = t * 1000 + rng.randrange(1000)
        return ms, ms
    g = time.gmtime(t)
    if k == 2:
        return time.strftime("%Y-%m-%dT%H:%M:%SZ", g), t * 1000
    if k == 3:
        return time.strftime("%Y-%m-%d %H:%M:%S", g), t * 1000
    day = t - t % 86400
    return time.strftime("%Y-%m-%d", g), day * 1000


def pg_array(items):
    return "{" + ",".join("'" + i.replace("'", "''") + "'" for i in items) + "}"


class UserGen:
    """Person model: one canonical record per person, rendered into one
    or two RTDB children (duplicates share the email, distinct createdAt)."""

    def __init__(self, rng):
        self.rng = rng
        self.next_key = 0
        self.next_email = 0

    def key(self):
        self.next_key += 1
        tail = "".join(self.rng.choice("abcdefghijkmnpqrstuvwxyz") for _ in range(8))
        return "U%011d%s" % (self.next_key * 7919 % 100000000000, tail)

    def email(self):
        self.next_email += 1
        return "user%d.%d@example.org" % (self.next_email, self.rng.randrange(1000))

    def person(self, has_email=True):
        r = self.rng
        created = T0 + r.randrange(SPAN)
        return {
            "key": self.key(),
            "email": self.email() if has_email else None,
            "name": r.choice(FIRST) + " " + str(r.randrange(10000)) if r.random() < 0.9 else None,
            "city": r.choice(CITIES) if r.random() < 0.8 else None,
            "status": r.choice(["ACTIVE"] * 6 + ["INACTIVE"] * 2 + ["BANNED"]),
            "created": created,
            "updated": created + r.randrange(86400 * 30),
            "last": created + r.randrange(86400 * 60) if r.random() < 0.7 else None,
            "interests": r.sample(INTERESTS, r.randrange(4)),
            "photo": "https://cdn.example.org/p/%d.png" % r.randrange(10**6) if r.random() < 0.5 else None,
            "pic": "https://cdn.example.org/a/%d.jpg" % r.randrange(10**6) if r.random() < 0.4 else None,
            "verified": r.random() < 0.5,
        }

    def render(self, p):
        """One RTDB child for person `p`, plus the expected normalized
        values of the fields the checks compare."""
        r = self.rng
        child, exp = {}, {}
        if p["email"] is not None:
            e = p["email"]
            child["email"] = (" " + e + " ") if r.random() < 0.1 else e
        elif r.random() < 0.5:
            child["email"] = r.choice(NULL_TOKENS)
        child["emailVerified" if r.random() < 0.7 else "email_verified"] = p["verified"]
        if p["name"] is not None:
            child["name" if r.random() < 0.7 else "displayName"] = p["name"]
        elif r.random() < 0.5:
            child["name"] = r.choice(NULL_TOKENS)
        if p["city"] is not None:
            child["city"] = p["city"]
        elif r.random() < 0.5:
            child["city"] = r.choice(NULL_TOKENS)
        child["status"] = r.choice(STATUS_SPELLINGS[p["status"]])
        v, exp["createdAt"] = render_ts(r, p["created"])
        child["createdAt" if r.random() < 0.6 else "created_at"] = v
        v, exp["updatedAt"] = render_ts(r, p["updated"])
        child["updatedAt" if r.random() < 0.6 else "updated_at"] = v
        if p["last"] is not None:
            v, exp["lastConnexion"] = render_ts(r, p["last"])
            child["lastConnexion" if r.random() < 0.5 else "last_connexion"] = v
        else:
            exp["lastConnexion"] = None
            if r.random() < 0.6:
                child["last_connexion"] = r.choice(NULL_TOKENS)
        if p["interests"]:
            if r.random() < 0.5:
                child["interests"] = list(p["interests"])
            else:
                child["interests"] = ", ".join(p["interests"]) + ("," if r.random() < 0.2 else "")
            exp["interests"] = pg_array(p["interests"])
        else:
            exp["interests"] = None
            if r.random() < 0.3:
                child["interests"] = r.choice(["", "None", []])
        if p["photo"] is not None:
            child["photo" if r.random() < 0.5 else "photoURL"] = p["photo"]
        if p["pic"] is not None:
            child["profilePic" if r.random() < 0.5 else "profile_pic"] = p["pic"]
        exp.update(name=p["name"], city=p["city"], status=p["status"],
                   photo=p["photo"], profilePic=p["pic"])
        return child, exp


def build_snapshot(ug, persons, auth):
    """Render persons into an RTDB tree. Returns (tree, expected rows by
    email, invalid count). `auth` maps key -> (email, verified, providers)."""
    r = ug.rng
    tree, expected, invalid = {}, {}, 0
    for p in persons:
        child, exp = ug.render(p)
        tree[p["key"]] = child
        email = p["email"]
        a = auth.get(p["key"])
        if email is None:
            if a is None:
                invalid += 1
                continue
            email = a[0]
        exp["id"] = p["key"]
        exp["email"] = email
        exp["emailVerified"] = bool(a[1]) if a else False
        exp["provider"] = "google.com" if a and "google.com" in a[2] else "CREDENTIALS"
        dup = p.get("dup")
        if dup is not None:
            # an older record of the same person under another key: the
            # transform keeps the latest createdAt, so the dup loses
            older = dict(p, key=dup, created=p["created"] - 86400 * (2 + r.randrange(300)))
            older["updated"] = older["created"] + 3600
            older_child, _ = ug.render(older)
            tree[dup] = older_child
        expected[email] = exp
    return tree, expected, invalid


def add_junk(ug, tree, n):
    for _ in range(n):
        tree[ug.key()] = ug.rng.choice(["not-a-dict", 42, ["a", "b"], True, None])


def write_tree(tree, path):
    with open(path, "w") as f:
        json.dump({k: tree[k] for k in sorted(tree)}, f, separators=(",", ":"))


def write_auth(auth, path):
    keys = sorted(auth)
    pq.write_table(pa.table({
        "uid": keys,
        "email": [auth[k][0] for k in keys],
        "email_verified": [bool(auth[k][1]) for k in keys],
        "provider_ids": [list(auth[k][2]) for k in keys],
    }), path)


def write_expected(expected, path):
    with open(path, "w") as f:
        for e in sorted(expected):
            f.write(json.dumps(expected[e], sort_keys=True) + "\n")


def population(ug, n):
    """n persons: ~5% without an email (9 in 10 covered by Auth), ~10%
    with a second, older record under another key, ~20% of the emailed
    ones also present in Auth."""
    r = ug.rng
    persons, auth = [], {}
    for _ in range(n):
        has_email = r.random() >= 0.05
        p = ug.person(has_email=has_email)
        if has_email and r.random() < 0.10:
            p["dup"] = ug.key()
        providers = ["google.com", "password"] if r.random() < 0.3 else ["password"]
        if not has_email:
            if r.random() < 0.9:
                auth[p["key"]] = ("auth%s@example.net" % p["key"].lower(), r.random() < 0.5, providers)
        elif r.random() < 0.2:
            auth[p["key"]] = (p["email"], r.random() < 0.5, providers)
        persons.append(p)
    return persons, auth


def gen_users_full_load(rng, size, out):
    ug = UserGen(rng)
    persons, auth = population(ug, size["persons"])
    tree, expected, invalid = build_snapshot(ug, persons, auth)
    add_junk(ug, tree, len(tree) // 50)
    write_tree(tree, os.path.join(out, "export.json"))
    write_auth(auth, os.path.join(out, "auth.parquet"))
    write_expected(expected, os.path.join(out, "expected.jsonl"))
    return {"children": len(tree), "expected_rows": len(expected), "invalid": invalid}


def gen_users_resync(rng, size, out):
    """Snapshot N is preloaded (its expected table); snapshot N+1 drops
    ~2% of persons, changes ~10% (newer updatedAt, other name/city/status)
    and adds ~10% new persons, a tenth of which reuse a dropped key."""
    ug = UserGen(rng)
    r = rng
    persons, auth = population(ug, size["persons"])
    _, exp_n, _ = build_snapshot(ug, persons, auth)
    write_expected(exp_n, os.path.join(out, "base.jsonl"))
    n = len(persons)
    order = list(range(n))
    r.shuffle(order)
    dropped = set(order[: n // 50])
    changed = set(order[n // 50: n // 50 + n // 10])
    nxt, dropped_keys = [], [persons[i]["key"] for i in sorted(dropped)]
    for i, p in enumerate(persons):
        if i in dropped:
            continue
        if i in changed:
            p = dict(p, updated=p["updated"] + 86400 * (1 + r.randrange(90)),
                     name=r.choice(FIRST) + " " + str(r.randrange(10000)),
                     city=r.choice(CITIES), status=r.choice(["ACTIVE", "INACTIVE", "BANNED"]))
        nxt.append(p)
    new_persons, new_auth = population(ug, n // 10)
    reused = 0
    for p in new_persons:
        if reused < len(dropped_keys) and r.random() < 0.1:
            # a dropped account's key comes back with a new person: the
            # id exists in the table, so the pipeline must rewrite it
            old = p["key"]
            p["key"] = dropped_keys[reused]
            reused += 1
            if old in new_auth:
                new_auth[p["key"]] = new_auth.pop(old)
    auth.update(new_auth)
    tree, exp_next, invalid = build_snapshot(ug, nxt + new_persons, auth)
    add_junk(ug, tree, len(tree) // 50)
    write_tree(tree, os.path.join(out, "export.json"))
    write_auth(auth, os.path.join(out, "auth.parquet"))
    base_ids = {e["id"] for e in exp_n.values()}
    inserted = {e: v for e, v in exp_next.items() if e not in exp_n}
    for v in inserted.values():
        v["rewritten"] = v["id"] in base_ids
    write_expected(inserted, os.path.join(out, "expected.jsonl"))
    conflicts = sum(1 for e in exp_next if e in exp_n)
    return {"children": len(tree), "base_rows": len(exp_n), "expected_inserted": len(inserted),
            "expected_conflicts": conflicts, "rewritten_ids": sum(v["rewritten"] for v in inserted.values()),
            "invalid": invalid}


# --------------------------------------------------------------- corpus

SOURCES = ["web", "books", "forums"]
LANGS = ["en", "fr", "de", "es"]
STOP = ["the", "a", "of", "and", "to", "in", "is"]
ALPHA = {"en": "etaoinshrdlcumwfgypbvk", "fr": "esaitnrulodcmpvqfbghj",
         "de": "enisratdhulcgmobwfkz", "es": "eaosrnidlctumpbgvyqhf"}


def make_vocab(rng, lang, n=4000):
    letters = ALPHA[lang]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(3 + rng.randrange(7))))
    return sorted(words)


def gen_corpus_curate(rng, size, out):
    """Base docs over 3 sources x 4 languages; then ~8% exact copies,
    ~12% near-duplicates (clusters of 2-6, 1-5% token substitutions) and
    ~5% boilerplate docs that fail the quality rules (too few words)."""
    nrng = np.random.default_rng(rng.randrange(2**32))
    vocab = {l: make_vocab(rng, l) for l in LANGS}
    ranks = np.arange(len(vocab["en"]), dtype=np.float64)
    probs = 1.0 / (ranks + 10.0)
    probs /= probs.sum()
    base_n = size["base_docs"]
    docs = []  # (text, source, lang, group, kind)

    def body(lang, n):
        v = vocab[lang]
        ws = [v[i] for i in nrng.choice(len(v), size=n, p=probs)]
        # a stopword every ~6 words keeps the stopword rule satisfied
        for j in range(0, n, 6):
            ws[j] = STOP[int(nrng.integers(len(STOP)))]
        return ws

    for g in range(base_n):
        lang = LANGS[g % 4]
        docs.append((body(lang, 60 + int(nrng.integers(140))), SOURCES[g % 3], lang, g, "base"))
    total = base_n / 0.75
    n_exact = int(total * 0.08)
    n_near = int(total * 0.12)
    n_boiler = int(total * 0.05)
    for _ in range(n_exact):
        g = int(nrng.integers(base_n))
        t, s, l, _, _ = docs[g]
        docs.append((t, s, l, g, "exact"))
    made = 0
    near_groups = set()
    while made < n_near:
        g = int(nrng.integers(base_n))
        if g in near_groups:
            continue
        near_groups.add(g)
        t, s, l, _, _ = docs[g]
        for _ in range(1 + int(nrng.integers(5))):
            w = list(t)
            k = max(1, int(len(w) * (0.01 + 0.04 * nrng.random())))
            for pos in nrng.choice(len(w), size=k, replace=False):
                w[pos] = vocab[l][int(nrng.integers(len(vocab[l])))]
            docs.append((w, s, l, g, "near"))
            made += 1
    boiler = ["home", "login", "menu", "cookies", "accept", "privacy", "terms", "share"]
    for b in range(n_boiler):
        w = [boiler[int(i)] for i in nrng.integers(len(boiler), size=8 + int(nrng.integers(20)))]
        w.append("b%d" % b)
        docs.append((w, SOURCES[b % 3], LANGS[b % 4], -1, "boiler"))
    perm = nrng.permutation(len(docs))
    ids = np.arange(1, len(docs) + 1, dtype=np.int64) * 3 + 1000
    rows = [docs[i] for i in perm]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids),
        "source": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "text": [" ".join(r[0]) for r in rows],
    }), os.path.join(out, "docs.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(ids),
        "grp": pa.array([r[3] for r in rows], type=pa.int64()),
        "kind": [r[4] for r in rows],
    }), os.path.join(out, "truth.parquet"))
    return {"docs": len(rows), "base_tokens": sum(len(docs[g][0]) for g in range(base_n)),
            "exact_copies": n_exact, "near_variants": made,
            "boilerplate": n_boiler, "planted_dups": n_exact + made}


# ------------------------------------------------------------------ ann

def gen_ann_serve(rng, size, out):
    """Vectors from Gaussian clusters (label = generating cluster), a
    held-out query set from the same clusters and the exact top-10 of
    every query by integer dot product over milli-quantized values,
    computed here by brute force (ties broken by the smaller id)."""
    nrng = np.random.default_rng(rng.randrange(2**32))
    n, nq, c, dim = size["vectors"], size["queries"], size["clusters"], 64
    centers = nrng.normal(0.0, 1.0, (c, dim))
    lab = nrng.integers(c, size=n)
    x = (centers[lab] + nrng.normal(0.0, 0.35, (n, dim))).astype(np.float32)
    qlab = nrng.integers(c, size=nq)
    q = (centers[qlab] + nrng.normal(0.0, 0.35, (nq, dim))).astype(np.float32)
    ids = np.arange(n, dtype=np.int64) * 5 + 7
    xq = np.floor(x.astype(np.float64) * 1000 + 0.5)
    qq = np.floor(q.astype(np.float64) * 1000 + 0.5)
    truth = np.empty((nq, 10), dtype=np.int64)
    for s in range(0, nq, 128):
        d = qq[s:s + 128] @ xq.T
        top = np.argpartition(-d, 16, axis=1)[:, :16]
        for i in range(top.shape[0]):
            cand = top[i]
            order = sorted(cand, key=lambda j: (-d[i, j], ids[j]))[:10]
            truth[s + i] = ids[order]
    def emb(m):
        offsets = pa.array(np.arange(0, m.size + 1, dim, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, pa.array(m.reshape(-1)))
    pq.write_table(pa.table({
        "vec_id": pa.array(ids),
        "embedding": emb(x),
        "label": pa.array(lab.astype(np.int64)),
    }), os.path.join(out, "vectors.parquet"))
    qids = np.arange(nq, dtype=np.int64)
    pq.write_table(pa.table({
        "qid": pa.array(qids),
        "embedding": emb(q),
    }), os.path.join(out, "queries.parquet"))
    pq.write_table(pa.table({
        "qid": pa.array(np.repeat(qids, 10)),
        "rank": pa.array(np.tile(np.arange(1, 11, dtype=np.int64), nq)),
        "cid": pa.array(truth.reshape(-1)),
    }), os.path.join(out, "truth.parquet"))
    return {"vectors": n, "queries": nq, "clusters": c, "dim": dim}


GENERATORS = {
    "users_full_load": gen_users_full_load,
    "users_resync": gen_users_resync,
    "corpus_curate": gen_corpus_curate,
    "ann_serve": gen_ann_serve,
}


def generate(workload, seed, scale, root):
    """Return the input directory for (workload, seed, scale), making it
    first if it is not cached yet."""
    out = os.path.join(root, "%s-%s-%d" % (workload, scale, seed))
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = random.Random("%s:%d" % (workload, seed))
    meta = GENERATORS[workload](rng, SIZES[workload][scale], out)
    meta.update(workload=workload, seed=seed, scale=scale, size=SIZES[workload][scale])
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    open(os.path.join(out, "DONE"), "w").close()
    return out


if __name__ == "__main__":
    w, seed, scale, root = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    print(generate(w, seed, scale, root))
