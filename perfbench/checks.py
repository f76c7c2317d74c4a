"""Output checks for the three workloads. Each returns a dict of
operation name -> error text (None when the output is correct). They
run after the timed phase and read only files.

* SIT/affine: an independent replay of the splice recurrence from the
  generated section summary and sparse splice, and of the off-splice
  offset rules (manual-correlation tie, else the nearest on-splice core).
* Export: a DuckDB replay of the on-splice / off-splice classification,
  compared by per-``On-Splice`` row counts and a ``Splice Depth``
  checksum at 3 dp.
* Queries: each query's registered DuckDB oracle on the generated
  tables, compared the way ``tools/check.py`` compares.
"""
import csv
import json
import os

TOL = 1e-9
# DuckDB spill directory, inside the checkout
TMP_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".bench_build", "duckdb_tmp")


def connect(threads, memory):
    import duckdb
    return duckdb.connect(config={"threads": threads, "memory_limit": memory,
                                  "temp_directory": TMP_DIR})


# ---- splice ------------------------------------------------------------

def _csv(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def _num(v):
    return None if v in ("", None) else float(v)


def replay_sit(sec_rows, sparse_rows):
    """The splice recurrence (unscaled depths, no gaps in the section
    summary): returns per-row (topCSF, topCCSF, botCSF, botCCSF) and the
    on-splice affine offset of each core, first row of the core wins."""
    sec = {(r["Hole"], r["Core"], r["Section"]): r for r in sec_rows}

    def depth(h, c, s, off_cm):
        return round(float(sec[(h, c, s)]["TopDepth"]), 3) + float(off_cm) / 100.0

    def scaled(h, c, s, off_cm):
        return round(float(sec[(h, c, s)]["TopDepthScaled"]), 3) + float(off_cm) / 100.0

    out, offsets = [], {}
    prev = None  # (botCCSF, affine, hole, botScaled, type, gap)
    for r in sparse_rows:
        h, c = r["Hole"], r["Core"]
        top = depth(h, c, r["TopSection"], r["TopOffset"])
        bot = depth(h, c, r["BottomSection"], r["BottomOffset"])
        if prev is None:
            aff = 0.0
        else:
            p_bot, p_aff, p_hole, p_bot_scaled, p_type, p_gap = prev
            if p_type == "TIE":
                aff = p_bot - top
            elif p_gap is not None:
                aff = p_bot + p_gap - top
            elif h == p_hole:
                aff = p_aff
            else:
                aff = p_bot - top + (scaled(h, c, r["TopSection"], r["TopOffset"]) - p_bot_scaled)
            if p_type == "APPEND" and p_bot > top + aff:
                aff += p_bot - (top + aff)
        out.append((top, top + aff, bot, bot + aff))
        offsets.setdefault((h, c), aff)
        prev = (bot + aff, aff, h,
                scaled(h, c, r["BottomSection"], r["BottomOffset"]),
                r["SpliceType"].upper(), _num(r.get("Gap")))
    return out, offsets


def replay_offsets(sec_rows, sparse_rows, mc_rows=()):
    """The affine offset of every section-summary core. On-splice cores
    take the replayed offset of their first splice row. An off-splice
    core takes, in this order: its first manual-correlation tie, when
    the tie's on-splice core is in the splice (offset = on-splice tie
    depth + that core's SIT offset - off-splice tie depth); else the SIT
    offset of the on-splice core whose top is nearest its own, the first
    in section-summary order on a tie. A core's SIT offset is
    round3(top CCSF) - round3(top CSF) of its first SIT row."""
    depths, offsets = replay_sit(sec_rows, sparse_rows)
    sit_off = {}
    for r, (top, top_ccsf, _, _) in zip(sparse_rows, depths):
        sit_off.setdefault((r["Hole"], r["Core"]), round(top_ccsf, 3) - round(top, 3))
    sec = {(r["Hole"], r["Core"], r["Section"]): float(r["TopDepth"]) for r in sec_rows}
    first_tie = {}
    for m in mc_rows:
        first_tie.setdefault((m["Hole1"], m["Core1"]), m)
    tops = [((r["Hole"], r["Core"]), float(r["TopDepth"])) for r in sec_rows
            if r["Section"] == "1"]
    on_tops = [(k, t) for k, t in tops if k in sit_off]
    for k, top in tops:
        if k in sit_off:
            continue
        m = first_tie.get(k)
        if m and (m["Hole2"], m["Core2"]) in sit_off:
            on_depth = sec[(m["Hole2"], m["Core2"], m["Section2"])] + float(m["SectionDepth2"]) / 100
            off_depth = sec[(m["Hole1"], m["Core1"], m["Section1"])] + float(m["SectionDepth1"]) / 100
            offsets[k] = on_depth + sit_off[(m["Hole2"], m["Core2"])] - off_depth
        else:
            nearest = min(on_tops, key=lambda o: abs(o[1] - round(top, 3)))[0]
            offsets[k] = sit_off[nearest]
    return depths, offsets


def check_site(site_dir, out_dir):
    """None when the SIT and affine tables of one converted site hold."""
    sec = _csv(os.path.join(site_dir, "secsumm.csv"))
    sparse = _csv(os.path.join(site_dir, "sparse.csv"))
    mc_path = os.path.join(site_dir, "mancorr.csv")
    mc = _csv(mc_path) if os.path.exists(mc_path) else []
    try:
        sit = _csv(os.path.join(out_dir, "sit.csv"))
        aff = _csv(os.path.join(out_dir, "affine.csv"))
    except OSError as e:
        return f"missing output: {e}"
    if len(sit) != len(sparse):
        return f"SIT has {len(sit)} rows for {len(sparse)} splice rows"
    want, offsets = replay_offsets(sec, sparse, mc)
    cols = ("Top Depth CSF-A", "Top Depth CCSF-A", "Bottom Depth CSF-A", "Bottom Depth CCSF-A")
    for i, (row, exp) in enumerate(zip(sit, want)):
        got = tuple(float(row[c]) for c in cols)
        if any(abs(g - round(e, 3)) > 1.5e-3 for g, e in zip(got, exp)):
            return f"SIT row {i}: {got} != replay {tuple(round(e, 3) for e in exp)}"
        if i and sparse[i - 1]["SpliceType"] == "TIE" and \
                abs(got[1] - float(sit[i - 1]["Bottom Depth CCSF-A"])) > 1.5e-3:
            return f"SIT row {i}: TIE top {got[1]} != previous bottom"
    cores = {(r["Hole"], r["Core"]) for r in sec}
    seen = [(r["Hole"], r["Core"]) for r in aff]
    if len(seen) != len(set(seen)) or set(seen) != cores:
        return f"affine has {len(seen)} rows for {len(cores)} cores"
    for r in aff:
        k = (r["Hole"], r["Core"])
        if abs(float(r["Cumulative offset (m)"]) - round(offsets[k], 3)) > 1.5e-3:
            return f"affine offset of {k}: {r['Cumulative offset (m)']} != replay {offsets[k]:.3f}"
    return None


# ---- export ------------------------------------------------------------

def _frame(path, cols=None):
    """Columns of a CSV as strings (DuckDB's sniffer misreads some of
    these headers, so pandas parses them)."""
    import pandas as pd
    return pd.read_csv(path, dtype=str, keep_default_na=False, usecols=cols)


def export_expected(con, md, sit, aff, depth, off_splice, whole):
    """Per-On-Splice (rows, sum of Splice Depth rounded to 3 dp), replayed."""
    md_df = _frame(md, ["Site", "Hole", "Core", "Section", depth])
    md_df["rid"] = range(len(md_df))
    con.register("md", md_df)
    con.register("sit", _frame(sit))
    con.register("aff", _frame(aff))
    d = f'CAST(md."{depth}" AS DOUBLE)'
    in_range = "TRUE" if whole else \
        f'{d} >= CAST(sit."Top Depth CSF-A" AS DOUBLE) AND {d} <= CAST(sit."Bottom Depth CSF-A" AS DOUBLE)'
    con.sql(f"""CREATE OR REPLACE TEMP TABLE onsp AS
        SELECT md.rid, {d} + CAST(sit."Top Depth CCSF-A" AS DOUBLE)
                         - CAST(sit."Top Depth CSF-A" AS DOUBLE) AS sd
        FROM md JOIN sit ON md.Site = sit.Site AND md.Hole = sit.Hole AND md.Core = sit.Core
         AND CAST(md.Section AS VARCHAR) IN (
             SELECT CAST(x AS VARCHAR) FROM (SELECT unnest(
               CASE WHEN sit."Top Section" = sit."Bottom Section" THEN [sit."Top Section"]
               ELSE list_transform(range(CAST(sit."Top Section" AS INT),
                      CAST(sit."Bottom Section" AS INT) + 1), i -> CAST(i AS VARCHAR)) END) AS x))
         AND {in_range}""")
    rows = {"splice": con.sql("SELECT count(*), coalesce(sum(round(sd, 3)), 0) FROM onsp").fetchone()}
    if off_splice:
        rows["off-splice"] = con.sql(f"""
            SELECT count(*), coalesce(sum(round({d} + CAST(aff."Cumulative offset (m)" AS DOUBLE), 3)), 0)
            FROM md JOIN aff ON md.Site = aff.Site AND md.Hole = aff.Hole AND md.Core = aff.Core
            WHERE md.rid NOT IN (SELECT rid FROM onsp)""").fetchone()
        rows["unwritten"] = con.sql(f"""
            SELECT count(*) FROM md WHERE md.rid NOT IN (SELECT rid FROM onsp) AND NOT EXISTS (
              SELECT 1 FROM aff WHERE md.Site = aff.Site AND md.Hole = aff.Hole
               AND md.Core = aff.Core)""").fetchone()
    return rows


def check_export(con, out_csv, expected, md, off_splice):
    if not os.path.exists(out_csv):
        return "missing export"
    con.register("exported", _frame(out_csv, ["On-Splice", "Splice Depth"]))
    got = dict((k, (n, s)) for k, n, s in con.sql(
        """SELECT "On-Splice", count(*), sum(round(CAST("Splice Depth" AS DOUBLE), 3))
           FROM exported GROUP BY 1""").fetchall())
    for k in ("splice", "off-splice") if off_splice else ("splice",):
        n, s = expected[k]
        gn, gs = got.pop(k, (0, 0.0))
        if gn != n or abs(gs - s) > 1e-6 * max(1.0, abs(s)):
            return f"{k}: {gn} rows, depth sum {gs:.3f}; replay {n} rows, {s:.3f}"
    if got:
        return f"unexpected On-Splice values {sorted(got)}"
    if off_splice:
        side = md.rsplit(".", 1)[0] + "-unwritten.csv"
        n = expected["unwritten"][0]
        gn = len(_frame(side, [0])) if os.path.exists(side) else 0
        if gn != n:
            return f"unwritten side file has {gn} rows; replay {n}"
    return None


# ---- queries -----------------------------------------------------------

def compare_frames(eng, ora):
    """tools/check.py's comparison: same columns, same rows, values
    equal after sorting, floats within 1e-9."""
    ecols, ocols = sorted(eng.columns), sorted(ora.columns)
    if ecols != ocols:
        return f"schema {ecols} vs {ocols}"
    if len(eng) != len(ora):
        return f"rows {len(eng)} vs {len(ora)}"
    e = eng[ecols].sort_values(ecols).reset_index(drop=True)
    o = ora[ocols].sort_values(ocols).reset_index(drop=True)
    for c in ecols:
        ev, ov = e[c], o[c]
        if ev.dtype.kind == "f" or ov.dtype.kind == "f":
            ev, ov = ev.astype(float), ov.astype(float)
            neq = ~((ev.isna() & ov.isna()) | ((ev - ov).abs() < TOL))
        else:
            neq = ~((ev.isna() & ov.isna()) | (ev.astype(str) == ov.astype(str)))
        if neq.any():
            i = neq.idxmax()
            return f"col {c} row {i}: {e[c][i]!r} vs {o[c][i]!r} ({int(neq.sum())} diffs)"
    return None


CHECK_WORKERS = 3  # threads that run the query oracles


def _check_query(con, out_dir, q, sql):
    import pandas as pd
    try:
        eng = pd.read_parquet(os.path.join(out_dir, q))
    except Exception as e:  # noqa: BLE001 - any unreadable output fails the op
        return f"output unreadable: {e}"
    if sql is None:
        return None if len(eng) > 0 else "empty output and no oracle"
    try:
        with con.cursor() as cur:
            return compare_frames(eng, cur.sql(sql).df())
    except Exception as e:  # noqa: BLE001
        return f"oracle error: {e}"


def check_queries(sf_dir, out_dir, names, oracle_path, first=()):
    """Every query's output against its oracle, in CHECK_WORKERS threads
    of this process (DuckDB runs a query without holding the GIL), each
    query on its own cursor of one database; the queries named in `first`
    (the slowest oracles) are handed out first."""
    from concurrent.futures import ThreadPoolExecutor
    oracles = json.load(open(oracle_path))
    order = [q for q in first if q in names] + [q for q in names if q not in first]
    con = connect(os.cpu_count() or 1, "3GB")
    try:
        for t in os.listdir(sf_dir):
            if t.endswith(".parquet"):
                con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{t}')")
        with ThreadPoolExecutor(CHECK_WORKERS) as ex:
            futures = {q: ex.submit(_check_query, con, out_dir, q, oracles.get(q)) for q in order}
            return {q: futures[q].result() for q in names}
    finally:
        con.close()
