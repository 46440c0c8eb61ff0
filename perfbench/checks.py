"""Correctness checks on one export's output directory.

`check_export` returns a list of failure messages (empty when the output
is right). Each check reads the exporter's output as a consumer would: the
single pretty-printed keyed-JSON files or, past the manifest bound, the
sharded `uid<TAB>json` files.

  counts       entries per module equal the generator's counts
  dead_letter  the dead-letter ids equal the permanent-404 set
  asset_bytes  every asset file is byte-exact with what the server sent
  tmp_files    no temporary file or directory is left behind
  sample       a seeded sample of entries equals an independent DuckDB
               recomputation from the source tables

`self_test` plants one fault per check in a copy of a good output and
asserts that the check reports it. `check_catalog` checks a catalog pass.
"""
import glob
import hashlib
import json
import os
import random
import re
import shutil

import duckdb

from wpsite import asset_body


def _read_sharded(d):
    out = {}
    for name in sorted(os.listdir(d)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(d, name), encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if line:
                    uid, js = line.split("\t", 1)
                    out[uid] = json.loads(js)
    return out


def read_keyed(single_file, sharded_dir):
    """uid -> entry from whichever layout the exporter chose."""
    if os.path.isdir(sharded_dir):
        return _read_sharded(sharded_dir)
    if os.path.exists(single_file):
        with open(single_file, encoding="utf-8") as f:
            return json.load(f)
    return {}


def read_entries(out, module):
    if module == "assets":
        return read_keyed(f"{out}/assets/assets.json", f"{out}/assets/sharded")
    return read_keyed(f"{out}/entries/{module}/en-us.json",
                      f"{out}/entries/{module}/sharded")


def read_dead_letter(out):
    return read_keyed(f"{out}/master/wp_failed.json", f"{out}/master/wp_failed")


MODULES = ("assets", "authors", "categories", "posts")
TMP_RE = re.compile(r"(\.tmp($|-)|^_temporary$|\.old$)")


def _slugify(col):
    return f"regexp_replace(lower({col}), '[^a-z0-9_-]+', '-', 'g')"


def expected_sample(site, seed, n_posts=200):
    """Recomputes entries with DuckDB from the source tables: every author
    and category, and `n_posts` posts chosen by the seed."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    t = lambda name: f"read_parquet('{site}/wp_{name}.parquet')"  # noqa: E731

    authors = {}
    for r in con.execute(f"""
        SELECT u.ID, u.user_login, '/author/' || {_slugify('u.user_login')}, u.user_email,
          coalesce(max(CASE WHEN m.meta_key='first_name' THEN m.meta_value END), ''),
          coalesce(max(CASE WHEN m.meta_key='last_name' THEN m.meta_value END), ''),
          coalesce(max(CASE WHEN m.meta_key='description' THEN m.meta_value END), '')
        FROM {t('users')} u LEFT JOIN {t('usermeta')} m ON m.user_id = u.ID
        GROUP BY ALL""").fetchall():
        authors[r[1]] = dict(zip(("ID", "title", "url", "email", "first_name",
                                  "last_name", "biographical_info"), r))

    categories = {}
    for r in con.execute(f"""
        WITH c AS (SELECT t.term_id, t.name, t.slug, x.description, x.parent
                   FROM {t('terms')} t JOIN {t('term_taxonomy')} x USING (term_id)
                   WHERE x.taxonomy = 'category')
        SELECT c.term_id, replace(c.name, '&amp;', '&'), '/category/' || {_slugify('c.slug')},
          coalesce(replace(c.description, '&amp;', '&'), ''),
          CASE WHEN c.parent <> 0 AND p.slug IS NOT NULL THEN [p.slug] ELSE [''] END,
          c.slug
        FROM c LEFT JOIN c p ON p.term_id = c.parent""").fetchall():
        categories[r[5]] = dict(zip(("id", "title", "url", "description", "parent"), r[:5]))

    ids = [r[0] for r in con.execute(
        f"SELECT ID FROM {t('posts')} WHERE post_type='post' AND post_status='publish' "
        "ORDER BY ID").fetchall()]
    sample = sorted(random.Random(seed).sample(ids, min(n_posts, len(ids))))
    con.execute("CREATE TEMP TABLE sample AS SELECT unnest(?) AS ID", [sample])
    posts = {}
    for r in con.execute(f"""
        SELECT CAST(p.ID AS VARCHAR), p.post_title,
          strftime(p.post_date_gmt, '/%Y/%m/%d/') || p.post_name || '/',
          CASE WHEN u.user_login IS NULL THEN [] ELSE [u.user_login] END,
          strftime(p.post_date_gmt, '%Y-%m-%dT%H:%M:%SZ'),
          '/' || regexp_replace(p.guid, '^(?://|[^/]+)*/', ''),
          p.post_content,
          coalesce((SELECT list_sort(list(te.slug))
                    FROM {t('term_relationships')} r
                    JOIN {t('term_taxonomy')} x ON x.term_taxonomy_id = r.term_taxonomy_id
                    JOIN {t('terms')} te ON te.term_id = x.term_id
                    WHERE r.object_id = p.ID AND x.taxonomy = 'category'), []),
          coalesce((SELECT CAST(CAST(m.meta_value AS BIGINT) AS VARCHAR)
                    FROM {t('postmeta')} m
                    WHERE m.post_id = p.ID AND m.meta_key = '_thumbnail_id'), '')
        FROM {t('posts')} p JOIN sample USING (ID)
        LEFT JOIN {t('users')} u ON u.ID = p.post_author""").fetchall():
        posts[r[0]] = dict(zip(("title", "url", "author", "date", "guid",
                                "full_description", "category", "featured_image"), r[1:]))
    con.close()
    return {"authors": authors, "categories": categories, "posts": posts}


def check_export(out, expect, sample, seed):
    fails = []
    entries = {m: read_entries(out, m) for m in MODULES}
    for m in MODULES:
        if len(entries[m]) != expect[m]:
            fails.append(f"counts: {m} has {len(entries[m])} entries, expected {expect[m]}")

    dead = sorted(read_dead_letter(out))
    if dead != sorted(expect["dead_letter"]):
        fails.append(f"dead_letter: {len(dead)} ids, expected {len(expect['dead_letter'])}"
                     f" (differ: {sorted(set(dead) ^ set(expect['dead_letter']))[:5]})")

    bad = []
    for uid in entries["assets"]:
        d = f"{out}/assets/{uid}"
        names = os.listdir(d) if os.path.isdir(d) else []
        if len(names) != 1:
            bad.append(f"{uid}: {len(names)} files")
            continue
        with open(os.path.join(d, names[0]), "rb") as f:
            if f.read() != asset_body(seed, int(uid)):
                bad.append(f"{uid}: bytes differ")
    for uid in expect["dead_letter"]:
        if os.path.isdir(f"{out}/assets/{uid}") and os.listdir(f"{out}/assets/{uid}"):
            bad.append(f"{uid}: dead-letter asset has a file")
    if bad:
        fails.append(f"asset_bytes: {len(bad)} bad assets, e.g. {bad[:3]}")

    stray = [os.path.join(dp, n) for dp, dns, fns in os.walk(out)
             for n in dns + fns if TMP_RE.search(n)]
    if stray:
        fails.append(f"tmp_files: {len(stray)} left, e.g. {stray[:3]}")

    wrong = []
    for m in ("authors", "categories", "posts"):
        for uid, want in sample[m].items():
            got = entries[m].get(uid)
            if got is None or any(got.get(k) != v for k, v in want.items()):
                wrong.append(f"{m}/{uid}")
    if wrong:
        fails.append(f"sample: {len(wrong)} entries differ from DuckDB, e.g. {wrong[:3]}")
    return fails


def _first_file(d):
    return os.path.join(d, sorted(n for n in os.listdir(d) if not n.startswith((".", "_")))[0])


def _drop_entry(out):
    d = f"{out}/entries/posts/sharded"
    if os.path.isdir(d):
        p = _first_file(d)
        with open(p, encoding="utf-8") as f:
            lines = f.readlines()
        with open(p, "w", encoding="utf-8") as f:
            f.writelines(lines[1:])
    else:
        p = f"{out}/entries/posts/en-us.json"
        with open(p, encoding="utf-8") as f:
            doc = json.load(f)
        doc.pop(sorted(doc)[0])
        with open(p, "w", encoding="utf-8") as f:
            json.dump(doc, f)


def _truncate_asset(out):
    uid = sorted(read_entries(out, "assets"))[0]
    p = _first_file(f"{out}/assets/{uid}")
    with open(p, "r+b") as f:
        f.truncate(100)


def _wrong_dead_letter(out):
    p = f"{out}/master/wp_failed.json"
    with open(p, encoding="utf-8") as f:
        doc = json.load(f)
    doc["999999999"] = "http://127.0.0.1/x-999999999.jpg"
    with open(p, "w", encoding="utf-8") as f:
        json.dump(doc, f)


def _stray_tmp(out):
    open(f"{out}/entries/.en-us.json123.tmp", "w").close()


def _edit_sampled_author(out):
    p = f"{out}/entries/authors/en-us.json"
    with open(p, encoding="utf-8") as f:
        doc = json.load(f)
    doc[sorted(doc)[0]]["email"] = "someone-else@example.com"
    with open(p, "w", encoding="utf-8") as f:
        json.dump(doc, f)


FAULTS = {  # fault -> the check that must report it
    "dropped entry": (_drop_entry, "counts"),
    "truncated asset": (_truncate_asset, "asset_bytes"),
    "wrong dead-letter set": (_wrong_dead_letter, "dead_letter"),
    "stray temp file": (_stray_tmp, "tmp_files"),
    "edited entry": (_edit_sampled_author, "sample"),
}


def self_test(out, expect, sample, seed, scratch):
    """Returns a list of problems: a check that fails on the good output,
    or a planted fault that its check does not report."""
    problems = [f"good output fails: {f}" for f in check_export(out, expect, sample, seed)]
    for name, (plant, check) in FAULTS.items():
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.copytree(out, scratch)
        plant(scratch)
        fails = check_export(scratch, expect, sample, seed)
        if not any(f.startswith(check + ":") for f in fails):
            problems.append(f"{name}: check '{check}' did not fail (got {fails})")
        else:
            print(f"self-test: {name} -> {check} fails as it should", flush=True)
    shutil.rmtree(scratch, ignore_errors=True)
    return problems


def check_catalog(data, root, names):
    """Each catalog result against DuckDB running the query's oracle SQL
    on the same tables: same row count and the same hash of the sorted
    rows (columns by name, values as strings, as tools/check.py compares).
    Queries without oracle SQL must return rows. Returns failure messages."""
    con = duckdb.connect()
    for p in glob.glob(f"{data}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(f"{root}/oracle_sql.json", encoding="utf-8") as f:
        oracle = json.load(f)

    def digest(df):
        cols = sorted(df.columns)
        rows = sorted("\x1f".join(r) for r in df[cols].astype(str).itertuples(index=False))
        return cols, len(rows), hashlib.sha256("\x1e".join(rows).encode()).hexdigest()

    fails = []
    for q in names:
        try:
            got = digest(con.sql(f"SELECT * FROM '{root}/results/{q}/*.parquet'").df())
            if q not in oracle:
                if got[1] == 0:
                    fails.append(f"catalog: {q} returned no rows")
                continue
            want = digest(con.sql(oracle[q]).df())
        except Exception as e:  # noqa: BLE001 - any read or SQL error is a failed check
            fails.append(f"catalog: {q}: {e}")
            continue
        if got != want:
            fails.append(f"catalog: {q}: spark {got[:2]} rows, oracle {want[:2]}"
                         f"{'' if got[:2] != want[:2] else ', hash differs'}")
    con.close()
    return fails
