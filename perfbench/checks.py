"""Output correctness checks, run after the timed region.

A message or gate row that is missing, duplicated or wrong counts as one
failed operation against the number attempted.
"""
import hashlib
import json
import os

MOD = 1 << 64


def h64(raw):
    """64-bit message hash: the first 8 bytes of MD5, little-endian (the
    same function as Digest.h64 in the pipeline JVM)."""
    return int.from_bytes(hashlib.md5(raw).digest()[:8], "little")


def digest(raw_values):
    """Order-independent digest: (count, wrapping sum of h64)."""
    n, s = 0, 0
    for v in raw_values:
        n += 1
        s = (s + h64(v)) % MOD
    return n, s


def check_messages(expected, delivered, drop_keys=()):
    """Compare delivered JSON texts with the expected docs (id -> doc).

    Returns (attempted, failed, problems): attempted is the number of
    expected messages; each missing, duplicated, unexpected or wrong
    message adds one failure.
    """
    seen, failed, problems = set(), 0, []
    for raw in delivered:
        try:
            doc = json.loads(raw)
            for k in drop_keys:
                doc.pop(k)
            i = doc.get("id")
        except (ValueError, KeyError, AttributeError):
            failed += 1
            problems.append("unparseable or incomplete: %.80s" % raw)
            continue
        if i in seen:
            failed += 1
            problems.append("duplicate id %s" % i)
        elif i not in expected:
            failed += 1
            problems.append("unexpected id %s" % i)
        else:
            seen.add(i)
            # dict equality: key order is free, numbers compare by value
            if doc != expected[i]:
                failed += 1
                problems.append("wrong content for id %s" % i)
    missing = len(expected) - len(seen)
    if missing:
        failed += missing
        problems.append("%d missing" % missing)
    return len(expected), failed, problems


def check_digests(reference, others):
    """Every pass's (count, sum) must equal the verified pass's; returns
    the number of messages by which a mismatching pass is off (at least
    1 per mismatch)."""
    failed = 0
    for d in others:
        if tuple(d) != tuple(reference):
            failed += max(1, abs(d[0] - reference[0]))
    return failed


# -- gates ---------------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# The gate registry's declared exemptions from the DuckDB oracle.
DECLARED_EXEMPT = {"t_simhash", "t_chunk_recursive", "t_chunk_markdown"}


def check_gates(sf_dir, out_dir, gates, oracle, exempt):
    """DuckDB oracle compare of each gate's result parquet, with the rule
    the repository's oracle script applies: columns sorted by name, rows
    sorted, same column names, same dtype kinds (integer widths may
    differ), exact values. A gate row mismatch fails the gate's rows.

    Returns (attempted, failed, problems); attempted counts oracle rows.
    """
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf_dir, t))

    def normalize(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    def kind(dt):
        dt = str(dt)
        if dt.startswith(("int", "uint")):
            return "int"
        if dt.startswith("float"):
            return "float"
        if dt.startswith("datetime"):
            return "datetime"
        return dt

    attempted, failed, problems, cache = 0, 0, [], {}
    if set(exempt) != DECLARED_EXEMPT:
        failed += 1
        problems.append("declared oracle exemptions changed: %s" % sorted(exempt))
    for g in gates:
        qdir = os.path.join(out_dir, g)
        if g not in oracle:
            attempted += 1
            failed += 1
            problems.append("%s: no oracle SQL" % g)
            continue
        try:
            if oracle[g] not in cache:  # some gates share one oracle query
                cache[oracle[g]] = con.execute(oracle[g]).fetchdf()
            want = cache[oracle[g]]
        except Exception as e:  # a broken oracle is a failed gate
            attempted += 1
            failed += 1
            problems.append("%s: oracle SQL failed: %s" % (g, e))
            continue
        attempted += max(1, len(want))
        if not os.path.isdir(qdir):
            failed += max(1, len(want))
            problems.append("%s: no result" % g)
            continue
        got = con.execute("SELECT * FROM '%s/*.parquet'" % qdir).fetchdf()
        a, b = normalize(got), normalize(want)
        if list(a.columns) != list(b.columns) or len(a) != len(b) or \
                [kind(t) for t in a.dtypes] != [kind(t) for t in b.dtypes]:
            failed += max(1, len(want))
            problems.append("%s: shape %s %s vs oracle %s %s" % (
                g, list(a.columns), len(a), list(b.columns), len(b)))
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError:
            bad = int((a != b).any(axis=1).sum()) if a.shape == b.shape else len(want)
            failed += max(1, bad)
            problems.append("%s: %d rows differ from oracle" % (g, bad))
    return attempted, failed, problems
