"""Seeded WordPress site generator for the export workloads.

`write_site` writes one parquet file per table (`wp_<table>.parquet`,
columns and types as in the exporter's `WpSchemas`) plus the asset plan
the loopback server follows, and returns what the checks expect.

Version 1 is the original site. Version 2 is the same site later on: 5% of
published posts edited, 1% new posts, 1% new attachments, and half of the
assets that answered 404 in version 1 now answer 200.

What the site plants, because the exporter's behaviour depends on it:
  - Zipf-skewed author and category assignment (hot keys in the joins)
  - multi-byte titles and names, and `&amp;` entities (decoded for
    categories, kept for posts)
  - draft posts, pages and tags, which every module must filter out
  - posts whose author does not exist (exported with an empty author list)
  - about 1% of assets that always answer 404 (the dead letter) and 1%
    that answer 500 once (the fetch retry)
Each table is one file of one row group, so Spark reads it as one
partition: the asset fetch then runs as a single task, as it does for a
small real dump.
"""
import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq


def asset_body(seed, asset_id):
    """The bytes the asset server sends for an id (same function as
    `AssetServer.body`)."""
    h = hashlib.sha256(f"{seed}:{asset_id}".encode()).digest()
    n = 1024 + (int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF) % 4096
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.sha256(f"{seed}:{asset_id}:{i}".encode()).digest()
        i += 1
    return bytes(out[:n])


WORDS = ("spark export entry asset author garden travel recipe review "
         "kernel river coffee winter market studio signal harbor").split()
FIRST = ["Ana", "Zoë", "José", "Li", "Ngozi", "Søren", "Aiko", "Omar", "Élodie"]
LAST = ["García", "Smith", "李", "Østergaard", "Okafor", "Tanaka", "Müller"]
ASSET_NAMES = ["photo", "café-menu", "東京 skyline", "header", "scan_01"]
EPOCH = datetime.datetime(2015, 1, 1, tzinfo=datetime.timezone.utc)

SCHEMAS = {
    "users": [("ID", pa.int64()), ("user_login", pa.string()),
              ("user_email", pa.string())],
    "usermeta": [("user_id", pa.int64()), ("meta_key", pa.string()),
                 ("meta_value", pa.string())],
    "terms": [("term_id", pa.int64()), ("name", pa.string()),
              ("slug", pa.string())],
    "term_taxonomy": [("term_taxonomy_id", pa.int64()), ("term_id", pa.int64()),
                      ("taxonomy", pa.string()), ("description", pa.string()),
                      ("parent", pa.int64())],
    "term_relationships": [("object_id", pa.int64()),
                           ("term_taxonomy_id", pa.int64())],
    "posts": [("ID", pa.int64()), ("post_author", pa.int64()),
              ("post_title", pa.string()), ("post_name", pa.string()),
              ("post_status", pa.string()), ("post_type", pa.string()),
              ("post_content", pa.string()),
              ("post_date", pa.timestamp("us", tz="UTC")),
              ("post_date_gmt", pa.timestamp("us", tz="UTC")),
              ("guid", pa.string())],
    "postmeta": [("post_id", pa.int64()), ("meta_key", pa.string()),
                 ("meta_value", pa.string())],
    "options": [("option_name", pa.string()), ("option_value", pa.string())],
}

TT_OFFSET = 5000  # term_taxonomy_id = term_id + TT_OFFSET, so a wrong join key shows


def zipf_picker(rng, n, s=1.1):
    cum, total = [], 0.0
    for k in range(1, n + 1):
        total += 1.0 / k ** s
        cum.append(total)
    keys = list(range(1, n + 1))
    rng.shuffle(keys)  # the hot keys are not simply the low ids
    return lambda: rng.choices(keys, cum_weights=cum)[0]


def _title(rng, i):
    w = rng.choice(WORDS)
    return rng.choice([
        f"Notes on {w} {i}",
        f"Fish &amp; chips, {w} &amp; more {i}",
        f"Café déjà vu — 東京の{w} {i} 🚀",
        f"“Quoted” {w}: Ünïcödé {i}",
    ])


def _content(rng):
    return "".join(f"<p>{' '.join(rng.choices(WORDS, k=rng.randint(8, 40)))}</p>"
                   for _ in range(rng.randint(1, 4)))


class _Site:
    """Mutable table rows; `write` turns them into parquet files."""

    def __init__(self):
        self.rows = {t: [] for t in SCHEMAS}

    def write(self, d):
        os.makedirs(d, exist_ok=True)
        for t, cols in SCHEMAS.items():
            names = [c for c, _ in cols]
            arrays = [pa.array([r[i] for r in self.rows[t]], type=ty)
                      for i, (_, ty) in enumerate(cols)]
            pq.write_table(pa.Table.from_arrays(arrays, names=names),
                           os.path.join(d, f"wp_{t}.parquet"))

    def copy(self):
        s = _Site()
        s.rows = {t: list(r) for t, r in self.rows.items()}
        return s


def _post(rng, pid, author, kind, status, port, title=None):
    ts = EPOCH + datetime.timedelta(seconds=rng.randrange(10 * 365 * 86400))
    if kind == "attachment":
        name = rng.choice(ASSET_NAMES)
        ext = rng.choice(["jpg", "png", "pdf"])
        guid = (f"http://127.0.0.1:{port}/wp-content/uploads/"
                f"{ts.year}/{ts.month:02d}/{name}-{pid}.{ext}")
        return (pid, author, f"{name} {pid}", f"{name}-{pid}", status, kind,
                "", ts, ts, guid)
    return (pid, author, title or _title(rng, pid), f"post-{pid}", status, kind,
            _content(rng), ts, ts, f"https://blog.example.com/?p={pid}")


def write_site(root, seed, port, posts, authors, categories, attachments,
               versions=(1,)):
    """Writes `root/v<k>/` (tables) and `root/v<k>.plan` (asset plan) for
    each requested version; returns {version: expectations}."""
    rng = random.Random(seed)
    s = _Site()
    R = s.rows
    for u in range(1, authors + 1):
        login = f"author{u}" if u % 3 else f"Jane.Doe_{u}"
        R["users"].append((u, login, f"user{u}@example.com"))
        R["usermeta"] += [(u, "first_name", rng.choice(FIRST)),
                          (u, "last_name", rng.choice(LAST)),
                          (u, "nickname", login)]
        if u % 10:  # some authors have no bio
            R["usermeta"].append((u, "description", f"Writes about {rng.choice(WORDS)} &amp; more"))
    tags = max(categories // 2, 1)
    for c in range(1, categories + tags + 1):
        is_cat = c <= categories
        name = rng.choice([f"News &amp; Events {c}", f"Café {c}", f"Tech {c}"]) \
            if is_cat else f"tag {c}"
        R["terms"].append((c, name, f"cat-{c}" if is_cat else f"tag-{c}"))
        parent = rng.randrange(1, c) if is_cat and c > 1 and rng.random() < 0.2 else 0
        R["term_taxonomy"].append((c + TT_OFFSET, c, "category" if is_cat else "post_tag",
                                   f"About {name}", parent))
    R["options"] += [("permalink_structure", "/%year%/%monthnum%/%day%/%postname%/"),
                     ("siteurl", "https://blog.example.com"), ("blogname", "Example")]

    pick_author = zipf_picker(rng, authors)
    pick_cat = zipf_picker(rng, categories)
    next_id = [1]

    def new_id():
        next_id[0] += 1
        return next_id[0] - 1

    def add_post(kind, status):
        pid = new_id()
        orphan = kind == "post" and rng.random() < 0.01
        author = authors + 1000 + pid if orphan else pick_author()
        R["posts"].append(_post(rng, pid, author, kind, status, port))
        if kind == "post":
            for c in {pick_cat() for _ in range(rng.randint(1, 3))}:
                R["term_relationships"].append((pid, c + TT_OFFSET))
            if rng.random() < 0.5:
                R["term_relationships"].append(
                    (pid, categories + rng.randint(1, tags) + TT_OFFSET))
        return pid

    def add_attachment(plan):
        pid = new_id()
        R["posts"].append(_post(rng, pid, pick_author(), "attachment", "inherit", port))
        R["postmeta"].append((pid, "_wp_attached_file", f"uploads/{pid}"))
        r = rng.random()
        if r < 0.01:
            plan[pid] = "404"
        elif r < 0.02:
            plan[pid] = "500once"
        return pid

    def add_thumbnails(post_ids, att_ids):
        for pid in post_ids:
            if rng.random() < 0.3:
                R["postmeta"].append((pid, "_thumbnail_id", str(rng.choice(att_ids))))
            R["postmeta"].append((pid, "_edit_lock", f"{rng.randrange(10**9)}:1"))

    plan = {}
    kinds = (["post"] * posts + ["attachment"] * attachments +
             ["draft"] * (posts // 20) + ["page"] * (posts // 50))
    rng.shuffle(kinds)
    published, atts = [], []
    for k in kinds:
        if k == "post":
            published.append(add_post("post", "publish"))
        elif k == "attachment":
            atts.append(add_attachment(plan))
        elif k == "draft":
            add_post("post", "draft")
        else:
            add_post("page", "publish")
    add_thumbnails(published, atts)
    v1 = s.copy()
    plan1 = dict(plan)

    # version 2: edits, new posts, new attachments, healed assets
    edited = rng.sample(published, max(posts // 20, 1))
    by_id = {r[0]: i for i, r in enumerate(R["posts"])}
    for pid in edited:
        i = by_id[pid]
        old = R["posts"][i]
        R["posts"][i] = old[:2] + (old[2] + " (updated ✓)",) + old[3:6] + \
            (_content(rng),) + old[7:]
    new_atts = [add_attachment(plan) for _ in range(max(attachments // 100, 1))]
    new_posts = [add_post("post", "publish") for _ in range(max(posts // 100, 1))]
    add_thumbnails(new_posts, atts + new_atts)
    gone_404 = sorted(i for i, k in plan1.items() if k == "404")
    for i in rng.sample(gone_404, len(gone_404) // 2):
        del plan[i]
    sites = {1: (v1, plan1), 2: (s, plan)}

    expect = {}
    for v in versions:
        site, p = sites[v]
        site.write(os.path.join(root, f"v{v}"))
        with open(os.path.join(root, f"v{v}.plan"), "w") as f:
            f.writelines(f"{i},{k}\n" for i, k in sorted(p.items()))
        n_att = sum(1 for r in site.rows["posts"] if r[5] == "attachment")
        dead = sorted(i for i, k in p.items() if k == "404")
        expect[v] = {
            "authors": len(site.rows["users"]),
            "categories": categories,
            "posts": sum(1 for r in site.rows["posts"]
                         if r[5] == "post" and r[4] == "publish"),
            "assets": n_att - len(dead),
            "dead_letter": [str(i) for i in dead],
        }
    return expect
