"""Output checks: compare the benchmark JVM's report with the values the
generator (or the frozen query-mix file) expects.

Each check returns (attempted, failed, problems). Every timed operation
counts as attempted; one that threw or produced a wrong result counts as
failed, so a failure can never pass as a timed success.
"""


def _pass_errors(p):
    return list(p.get("errors", []))


def check_batch(report, expected):
    """Every pass must load each star table with the expected row count;
    the final check also requires the five dim ids to agree per row."""
    attempted, failed, problems = 0, 0, []
    want = expected["star_rows"]
    for p in report["passes"]:
        attempted += 1
        errs = _pass_errors(p)
        rows = p.get("counts", {}).get("star_rows", {})
        bad = {t: n for t, n in rows.items() if n != want}
        if errs or bad or len(rows) != 6:
            failed += 1
            problems.append("pass %s: errors=%s wrong counts=%s" % (p["id"], errs, bad))
    attempted += 1
    c = report.get("check", {})
    bad = {t: n for t, n in c.get("star_rows", {}).items() if n != want}
    if "error" in c or bad or len(c.get("star_rows", {})) != 6 or c.get("dim_id_mismatch_rows") != 0:
        failed += 1
        problems.append("final check: %s (want %d rows per table, 0 id mismatches)" % (c, want))
    return attempted, failed, problems


def check_stream(report, expected):
    """Every pass must replay all records and each of its store reads must
    find one row per distinct key; the final check also compares the E8
    integer sums."""
    attempted, failed, problems = 0, 0, []
    for p in report["passes"]:
        attempted += 1
        errs = _pass_errors(p)
        counts = p.get("counts", {})
        reads = counts.get("store_rows") or [None]
        if errs or any(n != expected["distinct_keys"] for n in reads) \
                or counts.get("records") != expected["records"]:
            failed += 1
            problems.append("pass %s: errors=%s store_rows=%s records=%s" % (
                p["id"], errs, counts.get("store_rows"), counts.get("records")))
    attempted += 1
    c = report.get("check", {})
    ok = ("error" not in c
          and c.get("store_rows") == expected["distinct_keys"]
          and c.get("distinct_keys") == expected["distinct_keys"]
          and c.get("log_rows") == expected["records"]
          and c.get("e8_sums") == expected["e8_sums"]
          and c.get("e8_nonnull") == expected["e8_nonnull"])
    if not ok:
        failed += 1
        problems.append("final check: %s" % c)
    return attempted, failed, problems


def check_queries(report, frozen):
    """Every query run must return its frozen row count; the final check
    compares each query's full result hash with the frozen one."""
    attempted, failed, problems = 0, 0, []
    for p in report["passes"]:
        errs = _pass_errors(p)
        ran = p.get("counts", {}).get("queries", {})
        attempted += p.get("ops", len(frozen))
        failed += len(errs)
        problems += ["pass %s: %s" % (p["id"], e) for e in errs]
        for name, (_, _, rows) in ran.items():
            if rows != frozen[name]["rows"]:
                failed += 1
                problems.append("pass %s: %s returned %s rows, frozen %s" % (
                    p["id"], name, rows, frozen[name]["rows"]))
    got = report.get("check", {}).get("queries", {})
    for name, want in frozen.items():
        attempted += 1
        g = got.get(name, {"error": "not checked"})
        if g.get("rows") != want["rows"] or g.get("hash") != want["hash"]:
            failed += 1
            problems.append("check %s: got %s, frozen rows=%s hash=%s" % (
                name, g, want["rows"], want["hash"]))
    return attempted, failed, problems
