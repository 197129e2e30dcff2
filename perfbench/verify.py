"""Output verifier for the CLI workloads: every artifact of one
``run.main`` call is compared with what the site generator says it
should be. A case counts as failed when any of its outputs is wrong or
missing; a wrong manifest summary fails every case of the call."""

from __future__ import annotations

import json
import os
import re

from sitegen import Case, Site


def _canon(obj) -> str:
    # key order is part of the contract, so no sort_keys
    return json.dumps(obj, ensure_ascii=False)


def case_url(base: str, case: Case) -> str:
    return f"{base}/cf/{case.case_id}.html"


def expected_record(base: str, case: Case) -> dict:
    return dict(case.record, url=case_url(base, case))


def json_name(case: Case) -> str:
    name = re.sub(r"[/\\\x00]", "_", case.record["case_name"])
    return f"{case.case_id}_{name}.json"


def expected_entry(base: str, case: Case, pdf: bool) -> dict:
    url = case_url(base, case)
    if case.status == "error":
        return {"url": url, "status": "error", "message": "http 404"}
    e = {"case_id": case.case_id, "case_name": case.record["case_name"],
         "url": url, "status": case.status}
    if case.status == "success":
        name = f"{case.case_id}_{case.record['case_name']}.json"
        e["outputs"] = [name, f"{case.case_id}.pdf"] if pdf else [name]
    else:
        e["missing_fields"] = list(case.missing)
    return e


def pdf_page_count(data: bytes) -> int | None:
    """The page tree's /Count, or None when there is no page tree."""
    m = re.search(rb"/Type /Pages /Kids \[[^\]]*\] /Count (\d+)", data)
    return int(m.group(1)) if m else None


def check_pdf(data: bytes, case: Case) -> str | None:
    """Page total and embedded-image count: flowed text pages (at least
    one), one scenario-diagram page, one page per multimedia link; one
    image XObject per representative or multimedia JPEG the site served."""
    if not data.startswith(b"%PDF-1.4"):
        return "not a PDF"
    count = pdf_page_count(data)
    if count is None:
        return "no page tree"
    fixed = 1 + len(case.multimedia)
    if not 1 <= count - fixed <= 40:
        return f"/Count {count} for {fixed} fixed pages"
    want = (case.rep is not None) + sum(served for _, _, served in case.multimedia)
    got = data.count(b"/Subtype /Image")
    if got != want:
        return f"{got} images, expected {want}"
    if case.record["case_name"].encode("utf-16-be").hex().encode() not in data:
        return "title missing"
    return None


def check_run(site: Site, base: str, out_dir: str, pdf: bool) -> dict:
    """Verify one call's output directory. Returns attempted/failed case
    counts, output bytes and up to 10 problem descriptions."""
    problems: list[str] = []
    bad: set[str] = set()

    def fail(case: Case, why: str) -> None:
        bad.add(case.case_id)
        if len(problems) < 10:
            problems.append(f"{case.case_id}: {why}")

    files = set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()
    out_bytes = 0
    manifest = None
    if "results_001.json" in files:
        path = os.path.join(out_dir, "results_001.json")
        out_bytes += os.path.getsize(path)
        try:
            with open(path, encoding="utf-8") as f:
                manifest = json.load(f)
        except ValueError as e:
            problems.append(f"manifest unreadable: {e}")
    cases = site.cases
    counts = {s: sum(c.status == s for c in cases) for s in ("success", "excluded", "error")}
    want_summary = {"total": len(cases), "n_success": counts["success"],
                    "n_excluded": counts["excluded"], "n_error": counts["error"]}
    if manifest is None or _canon(manifest.get("summary")) != _canon(want_summary):
        problems.append(f"manifest summary {manifest and manifest.get('summary')} != {want_summary}")
        bad.update(c.case_id for c in cases)
    entries = (manifest or {}).get("cases") or []
    if len(entries) != len(cases):
        problems.append(f"{len(entries)} manifest entries for {len(cases)} cases")

    n_json = sum(n.endswith(".json") for n in files) - ("results_001.json" in files)
    n_pdf = sum(n.endswith(".pdf") for n in files)
    if n_json != counts["success"] or n_pdf != (counts["success"] if pdf else 0):
        problems.append(f"{n_json} case JSON / {n_pdf} PDF files for {counts['success']} successes")
        bad.update(c.case_id for c in cases if c.status == "success")

    for i, case in enumerate(cases):
        if i >= len(entries) or _canon(entries[i]) != _canon(expected_entry(base, case, pdf)):
            fail(case, f"manifest entry {entries[i] if i < len(entries) else None}")
        if case.status != "success":
            continue
        name = json_name(case)
        if name not in files:
            fail(case, "no JSON file")
            continue
        path = os.path.join(out_dir, name)
        out_bytes += os.path.getsize(path)
        try:
            with open(path, encoding="utf-8") as f:
                doc = json.load(f)
        except ValueError:
            fail(case, "JSON unreadable")
            continue
        if _canon(doc) != _canon(expected_record(base, case)):
            diff = [k for k in case.record if doc.get(k) != expected_record(base, case)[k]]
            fail(case, f"record differs in {diff or 'key order'}")
        if pdf:
            pdf_path = os.path.join(out_dir, f"{case.case_id}.pdf")
            if not os.path.exists(pdf_path):
                fail(case, "no PDF")
                continue
            with open(pdf_path, "rb") as f:
                data = f.read()
            out_bytes += len(data)
            why = check_pdf(data, case)
            if why:
                fail(case, f"PDF: {why}")
    return {"attempted": len(cases), "failed": len(bad), "out_bytes": out_bytes,
            "successes": counts["success"], "problems": problems}
