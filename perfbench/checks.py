"""Reference outputs and the checks run on every timed run.

References are computed once per seed, outside the timed runs:

- extraction rows: ``core.extract`` in-process with the same Options the
  Spark kernel gets, assembled into the kernel's output columns; junk
  rows expect the exact reject reason the generator planted; unmodified
  fixture pages must also match their generator golden;
- curate_pipeline: the per-stage DuckDB oracles of
  ``__spark_entry__.oracle_sql()`` chained in the composition's order,
  compared with the oracle harness's order-insensitive hash.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from go_trafilatura_spark.kernel import OUTPUT_COLUMNS, KernelOptions, compute_spans

# Columns compared row by row (warc_ts is a pass-through timestamp whose
# python type differs between pyarrow and the reference; url and lang
# pass through too and are compared).
COMPARED = [c for c in OUTPUT_COLUMNS if c != "warc_ts"]
# The golden fields q_extract_fixture_parity checks byte for byte.
GOLDEN_FIELDS = ("content_text", "comments_text", "title", "author",
                 "sitename", "date")


def reference_row(url: str, html: bytes, opts_dict: dict) -> dict:
    """The kernel's output row for one well-formed page, computed with
    ``core.extract`` directly (no Spark, no Arrow)."""
    from go_trafilatura_spark import etree
    from go_trafilatura_spark.core import ExtractError, extract

    row = dict.fromkeys(COMPARED)
    row["url"] = url
    try:
        res = extract(html, KernelOptions(opts_dict).make_options(url))
    except ExtractError as e:
        row["reject_reason"] = e.reason
        return row
    except Exception:  # the kernel maps any other exception to parse_error
        row["reject_reason"] = "parse_error"
        return row
    m = res.metadata
    row.update(
        content_text=res.content_text, comments_text=res.comments_text,
        content_html=etree.tostring(res.content_node) if res.content_node is not None else "",
        comments_html=etree.tostring(res.comments_node) if res.comments_node is not None else "",
        title=m.title, author=m.author, meta_url=m.url, hostname=m.hostname,
        description=m.description, sitename=m.sitename, date=m.date,
        categories=list(m.categories), tags=list(m.tags), license=m.license,
        language=m.language, image=m.image, page_type=m.page_type,
        content_spans=compute_spans(res.content_node, res.content_text),
    )
    return row


def extraction_reference(rows: list[dict], expect: list[dict] | None,
                         opts_dict: dict, workers: int, tmp: str) -> dict[str, dict]:
    """Reference row per url. Well-formed pages run through
    ``reference_row`` in ``workers`` child interpreters (this file's
    main); junk rows get the reason the generator planted."""
    todo, out = [], {}
    for i, r in enumerate(rows):
        e = expect[i] if expect else {"kind": "page"}
        if e["kind"] in ("page", "dup"):
            todo.append({"url": r["url"], "html": r["html"].decode("latin-1")})
        else:
            out[r["url"]] = dict.fromkeys(COMPARED) | {
                "url": r["url"], "reject_reason": e["reason"]}
    os.makedirs(tmp, exist_ok=True)
    # Spark starts its Python workers with PYTHONHASHSEED=0; the
    # reference runs under the same hash seed.
    env = dict(os.environ, PYTHONHASHSEED="0")
    procs = []
    for k in range(workers):
        task, result = os.path.join(tmp, f"task-{k}.json"), os.path.join(tmp, f"out-{k}.json")
        with open(task, "w") as f:
            json.dump({"options": opts_dict, "pages": todo[k::workers]}, f)
        procs.append((subprocess.Popen([sys.executable, os.path.abspath(__file__), task, result],
                                       env=env), result))
    failed = [p.args for p, _ in procs if p.wait() != 0]
    if failed:
        raise RuntimeError(f"reference workers failed: {failed}")
    for _, result in procs:
        with open(result) as f:
            for row in json.load(f):
                out[row["url"]] = row
    for r in rows:
        out[r["url"]]["lang"] = r["lang"]
    return out


def _norm(v):
    """pyarrow gives struct lists as dicts and lists as lists; the
    reference builds the same shapes, tuples normalised to lists."""
    if isinstance(v, tuple):
        return [_norm(x) for x in v]
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


def check_extraction(out_rows: list[dict], reference: dict[str, dict],
                     expect_by_url: dict[str, dict]) -> list[str]:
    """Compare one run's output rows with the reference and the goldens.
    Returns one message per failed row; an empty list is a pass. A row
    fails on any mismatch, on a parse_error reject, or by being lost."""
    failed = []
    seen = set()
    for row in out_rows:
        url = row["url"]
        seen.add(url)
        ref = reference.get(url)
        if ref is None:
            failed.append(f"{url}: not in the input")
            continue
        if row["reject_reason"] == "parse_error":
            failed.append(f"{url}: parse_error")
            continue
        bad = [c for c in COMPARED if _norm(row[c]) != _norm(ref[c])]
        if bad:
            failed.append(f"{url}: differs from core.extract in {bad}")
            continue
        golden = expect_by_url.get(url, {}).get("golden")
        if golden is not None:
            bad = [c for c in GOLDEN_FIELDS if row[c] != golden[c]]
            if row["reject_reason"] is not None or bad:
                failed.append(f"{url}: differs from the golden in "
                              f"{bad or ['reject_reason']}")
    if len(seen) != len(out_rows):
        failed.append(f"{len(out_rows) - len(seen)} duplicate output rows")
    failed += [f"{url}: lost" for url in reference if url not in seen]
    return failed


# -- curate_pipeline oracle ----------------------------------------------------

def _swap(sql: str, old: str, new: str) -> str:
    """Replace exactly one occurrence; an oracle whose text drifted
    fails here instead of checking against the wrong query."""
    if sql.count(old) != 1:
        raise RuntimeError(f"oracle SQL drifted: {old!r} occurs "
                           f"{sql.count(old)} times")
    return sql.replace(old, new)


def curate_oracle(input_glob: str, p: dict) -> dict:
    """Run the composition in DuckDB, one oracle_sql() stage at a time:
    line_dedup → substring_dedup_filter (k=p['k_substring']) →
    gopher_quality → host_cap (document granularity, null urls bypass)
    → stratified_sample. Returns the final row count and hash plus the
    per-stage row funnel."""
    import duckdb

    import __spark_entry__ as entry
    from oracle_harness import value_hash

    o = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE docs AS SELECT * FROM read_parquet('{input_glob}')")
        con.execute("CREATE VIEW ld_in AS SELECT doc_id AS url, text AS content_text FROM docs")
        ld = _swap(o["line_dedup"], f"read_parquet('{entry.GOLDEN_PARQUET}')", "ld_in")
        con.execute(f"CREATE TABLE deduped AS SELECT url AS doc_id, text_deduped AS text "
                    f"FROM ({ld}) WHERE n_lines_kept > 0")
        con.execute("CREATE VIEW documents AS SELECT * FROM deduped")
        substring = entry._sql_substring_dedup_filter(k=p["k_substring"])
        con.execute(f"CREATE TABLE ss_keep AS SELECT doc_id FROM ({substring}) WHERE keep = 1")
        con.execute(f"CREATE TABLE gq_keep AS SELECT doc_id FROM ({o['gopher_quality']}) WHERE keep")
        con.execute("CREATE TABLE kept AS SELECT doc_id FROM deduped "
                    "SEMI JOIN ss_keep USING (doc_id) SEMI JOIN gq_keep USING (doc_id)")
        con.execute("CREATE VIEW hc_in AS SELECT d.url, d.doc_id FROM kept "
                    "JOIN docs d USING (doc_id) WHERE d.url IS NOT NULL")
        hc = _swap(_swap(o["host_cap"], f"read_parquet('{entry.PAGES_PARQUET}')", "hc_in"),
                   "rn <= 3", f"rn <= {p['max_per_host']}")
        con.execute(f"CREATE TABLE capped AS SELECT h.doc_id FROM ({hc}) c JOIN hc_in h USING (url)")
        con.execute("CREATE TABLE bypass AS SELECT doc_id FROM kept JOIN docs d USING (doc_id) "
                    "WHERE d.url IS NULL")
        con.execute("CREATE VIEW sample_in AS SELECT doc_id, lang FROM docs "
                    "SEMI JOIN (SELECT doc_id FROM capped UNION ALL SELECT doc_id FROM bypass) "
                    "USING (doc_id)")
        sample = _swap(_swap(o["stratified_sample"], "FROM documents", "FROM sample_in"),
                       "< 2500", f"< {int(p['sample_fraction'] * 10000)}")
        res = con.execute(sample)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        funnel = {name: con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
                  for name in ("docs", "deduped", "ss_keep", "gq_keep", "kept",
                               "capped", "bypass")}
    finally:
        con.close()
    funnel["sample"] = len(rows)
    return {"rows": len(rows), "hash": value_hash(rows, cols), "funnel": funnel}


def check_curate(rows: list[tuple], cols: list[str], oracle: dict) -> list[str]:
    """Compare one run's written rows with the oracle chain."""
    from oracle_harness import value_hash

    if len(rows) != oracle["rows"]:
        return [f"{len(rows)} rows, oracle has {oracle['rows']}"]
    if value_hash(rows, cols) != oracle["hash"]:
        return ["row hash differs from the oracle chain"]
    return []


if __name__ == "__main__":
    # Reference worker: python3 checks.py <task.json> <result.json>
    with open(sys.argv[1]) as f:
        task = json.load(f)
    rows = [reference_row(p["url"], p["html"].encode("latin-1"), task["options"])
            for p in task["pages"]]
    with open(sys.argv[2], "w") as f:
        json.dump(rows, f)
