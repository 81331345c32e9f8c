"""Claims "drops" for the `claims_etl` workload, and an independent oracle.

A drop is one alpha CSV file plus one beta JSON-array file, the two
source formats of the paper's pipeline. Drop sizes follow a heavy-tailed
(Pareto) law; they are fixed quantiles of it, so every seed gets the
same sizes and only contents and op order change with the seed. Values
are dirty the way the reference rules care about: padding and case, the
literal "None", null or blank patients, dates in both accepted formats
and in rejected ones, dates on either side of the 7-day cutoff, and a
few alpha rows that are not valid CSV.

The oracle is a plain-Python restatement of the reference rules as
SURVEY.md and README.md document them (it does not import the engine's
claim functions). For each drop it gives the candidate list in output
order and the metrics the pipeline must report.
"""

from __future__ import annotations

import csv
import datetime
import json
import os

import numpy as np

TODAY = datetime.date(2025, 7, 30)
MIN_AGE_DAYS = 7
RETRYABLE = {"missing modifier", "incorrect npi", "prior auth required"}
NON_RETRYABLE = {"authorization expired", "incorrect provider type"}
RETRYABLE_SUBSTRINGS = ("incorrect procedure", "form incomplete", "not billable")
RECOMMENDATIONS = {
    "missing modifier": "Add correct CPT modifier, resubmit",
    "incorrect npi": "Review provider NPI, correct and resubmit",
    "prior auth required": "Obtain/attach prior authorization and resubmit",
    "incorrect procedure": "Verify CPT/HCPCS code mapping, correct if needed and resubmit",
    "form incomplete": "Fill missing fields and resubmit",
    "not billable": "Confirm coverage/payer policy; update claim or appeal",
}
DEFAULT_RECOMMENDATION = "Review claim details, supply missing info and resubmit"
EXCLUSION_BUCKETS = ("not_denied", "patient_missing", "too_recent", "non_retryable_or_ambiguous")

ALPHA_HEADER = ("claim_id", "patient_id", "procedure_code", "denial_reason", "submitted_at", "status")
BETA_KEYS = ("id", "member", "code", "error_msg", "date", "status")
MALFORMED_LINE = '"{claim_id},unterminated-quote,99,x'

_REASONS = (
    "Missing modifier", "Incorrect NPI", "Prior auth required",
    "Authorization expired", "Incorrect provider type",
    "Incorrect procedure code", "Form incomplete - page 2", "Service not billable",
    "Duplicate claim", "Other", "None", None,
)
_STATUSES = ("denied", "denied", "denied", "Denied", " DENIED ", "approved", "Pending", "", None)
_CODES = ("99213", "99214", "99215", "99381", "99401")
_BAD_DATES = ("2025/07/01", "07-01-2025", "2025-07-01 10:00", "not a date", "", " 2025-07-01")


def drop_sizes(n_drops: int, smallest: int, largest: int, alpha: float = 0.6) -> list[int]:
    """Stratified Pareto(alpha) quantiles, capped at `largest`, descending."""
    q = (np.arange(n_drops) + 0.5) / n_drops
    return [int(min(largest, smallest * (1.0 - x) ** (-1.0 / alpha))) for x in q[::-1]]


def _pad(rng: np.random.Generator, s: str | None) -> str | None:
    if s is None or rng.random() > 0.08:
        return s
    return (" " * int(rng.integers(1, 3))) + s + ("\t" if rng.random() < 0.3 else " ")


def _case(rng: np.random.Generator, s: str | None) -> str | None:
    if s is None:
        return s
    r = rng.random()
    return s.upper() if r < 0.05 else s.lower() if r < 0.10 else s


def _date(rng: np.random.Generator, fmt: str) -> str | None:
    r = rng.random()
    if r < 0.04:
        return _BAD_DATES[int(rng.integers(len(_BAD_DATES)))]
    if r < 0.06:
        return None
    day = TODAY - datetime.timedelta(days=int(rng.integers(0, 60)))
    if r < 0.08:
        return f"{day.year}-{day.month}-{day.day}"  # unpadded fields are accepted
    if r < 0.12:  # the other source's format
        fmt = "%Y-%m-%dT%H:%M:%S" if fmt == "%Y-%m-%d" else "%Y-%m-%d"
    return day.strftime(fmt)


def _claim(rng: np.random.Generator, claim_id: str, date_fmt: str) -> list[str | None]:
    patient = f"P{int(rng.integers(0, 100_000)):05d}"
    r = rng.random()
    if r < 0.05:
        patient = None
    elif r < 0.08:
        patient = "  "
    reason = _REASONS[int(rng.integers(len(_REASONS)))]
    status = _STATUSES[int(rng.integers(len(_STATUSES)))]
    return [
        _pad(rng, claim_id),
        _pad(rng, patient),
        _CODES[int(rng.integers(len(_CODES)))],
        _pad(rng, _case(rng, reason)),
        _date(rng, date_fmt),
        status,
    ]


def write_drop(rng: np.random.Generator, out_dir: str, drop: int, size: int) -> list[str]:
    """Write one drop of `size` claims (about 60% alpha) and return its
    two paths in pipeline order: alpha CSV, then beta JSON."""
    os.makedirs(out_dir, exist_ok=True)
    n_alpha = int(size * 0.6)
    alpha_path = os.path.join(out_dir, f"drop{drop:03d}_alpha.csv")
    with open(alpha_path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(ALPHA_HEADER)
        for i in range(n_alpha):
            claim_id = f"A{drop:03d}{i:07d}"
            if rng.random() < 0.002:
                f.write(MALFORMED_LINE.format(claim_id=claim_id) + "\n")
            else:
                w.writerow(["" if v is None else v for v in _claim(rng, claim_id, "%Y-%m-%d")])
    records = []
    for i in range(size - n_alpha):
        rec = dict(zip(BETA_KEYS, _claim(rng, f"B{drop:03d}{i:07d}", "%Y-%m-%dT%H:%M:%S")))
        if rng.random() < 0.02:
            del rec["member"]
        records.append(rec)
    beta_path = os.path.join(out_dir, f"drop{drop:03d}_beta.json")
    with open(beta_path, "w", encoding="utf-8") as f:
        json.dump(records, f, indent=1)
    return [alpha_path, beta_path]


# ---- oracle ---------------------------------------------------------------


def _clean(v: str | None) -> str | None:
    if v is None:
        return None
    v = v.strip(" \t\n\x0b\x0c\r")
    return v or None


def _parse_date(v: str | None) -> datetime.date | None:
    if v is None:
        return None
    for fmt in ("%Y-%m-%d", "%Y-%m-%dT%H:%M:%S"):
        try:
            return datetime.datetime.strptime(v, fmt).date()
        except ValueError:
            pass
    return None


def _classify(reason: str | None) -> str:
    if reason is None:
        return "ambiguous"
    r = reason.lower()
    if r in RETRYABLE:
        return "retryable"
    if r in NON_RETRYABLE:
        return "non-retryable"
    if any(s in r for s in RETRYABLE_SUBSTRINGS):
        return "retryable"
    return "ambiguous"


def _alpha_rows(path: str):
    with open(path, encoding="utf-8") as f:
        next(f)
        for line in f:
            line = line.rstrip("\n")
            if line.startswith('"') and line.count('"') == 1:
                yield None  # not valid CSV: a malformed record
                continue
            rec = dict(zip(ALPHA_HEADER, next(csv.reader([line]))))
            reason = _clean(rec["denial_reason"])
            if reason is not None and reason.lower() == "none":
                reason = None
            yield (rec["claim_id"], rec["patient_id"], reason, rec["submitted_at"], rec["status"])


def _beta_rows(path: str):
    with open(path, encoding="utf-8") as f:
        for rec in json.load(f):
            yield (rec.get("id"), rec.get("member"), _clean(rec.get("error_msg")), rec.get("date"), rec.get("status"))


def expected_output(paths: list[str]) -> tuple[list[dict], dict]:
    """(candidates in output order, metrics) that the pipeline must produce."""
    candidates: list[dict] = []
    by_source = {"alpha": 0, "beta": 0}
    excluded = dict.fromkeys(EXCLUSION_BUCKETS + ("malformed",), 0)
    for path in paths:
        source, rows = ("alpha", _alpha_rows(path)) if path.endswith(".csv") else ("beta", _beta_rows(path))
        for row in rows:
            by_source[source] += 1
            if row is None:
                excluded["malformed"] += 1
                continue
            claim_id, patient, reason, date, status = row
            status = _clean(status)
            denied = status is not None and status.lower() == "denied"
            day = _parse_date(date)
            old_enough = day is not None and (TODAY - day).days > MIN_AGE_DAYS
            if not denied:
                excluded["not_denied"] += 1
            elif _clean(patient) is None:
                excluded["patient_missing"] += 1
            elif not old_enough:
                excluded["too_recent"] += 1
            elif _classify(reason) != "retryable":
                excluded["non_retryable_or_ambiguous"] += 1
            else:
                candidates.append(
                    {
                        "claim_id": _clean(claim_id),
                        "resubmission_reason": reason,
                        "source_system": source,
                        "recommended_changes": RECOMMENDATIONS.get(reason.lower(), DEFAULT_RECOMMENDATION),
                    }
                )
    metrics = {
        "total_processed": sum(by_source.values()),
        "by_source": by_source,
        "flagged_for_resubmission": len(candidates),
        "excluded_by_reason": excluded,
    }
    return candidates, metrics


def metrics_log(metrics: dict) -> str:
    """The text of `pipeline_metrics.log` for `metrics` (README's layout)."""
    lines = [
        "===== Pipeline Metrics Summary =====",
        f"Total processed: {metrics['total_processed']}",
        f"By source: {metrics['by_source']}",
        f"Flagged for resubmission: {metrics['flagged_for_resubmission']}",
        "Excluded by reason:",
        *(f"  - {k}: {v}" for k, v in metrics["excluded_by_reason"].items()),
    ]
    return "\n".join(lines) + "\n"


def check_result(result, candidates: list[dict], metrics: dict) -> list[str]:
    """Differences between one `run_pipeline` result (and the two files it
    wrote) and the oracle's expectation; empty when it is correct."""
    problems = []
    if result.candidates != candidates:
        problems.append(f"candidates differ: {len(result.candidates)} vs {len(candidates)} expected")
    if result.metrics != metrics:
        problems.append(f"metrics differ: {result.metrics} vs {metrics} expected")
    with open(result.output_path, encoding="utf-8") as f:
        if json.load(f) != candidates:
            problems.append("resubmission_candidates.json differs from the expected candidates")
    with open(result.metrics_path, encoding="utf-8") as f:
        if f.read() != metrics_log(metrics):
            problems.append("pipeline_metrics.log differs from the expected log")
    return problems
