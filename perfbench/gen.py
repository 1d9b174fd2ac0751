"""Seeded contacts-CSV generator and expected outcome for the ingest workload.

The program under test receives only the CSV files (and a pre-seeded
contacts table); what the lifecycle should leave behind is computed here,
independently of Spark, by re-stating the validation rules the worker
implements:

- values are trimmed of spaces, empty means missing;
- emails are normalised as ``lower(trim(email))``;
- per job, a row whose normalised email occurs more than once is a
  duplicate (every occurrence is flagged, ``cnt > 1``);
- precedence: missing field > invalid email > duplicate > existing email;
- one issue per (job, type, key), key = normalised email or ``row_<n>``.

Faults per row (by seeded draw): ~10% duplicate, ~5% invalid email, ~5%
missing field, ~5% an email already in the contacts table.  Every other
email is unique across all jobs of a backlog, so jobs never interact
through the contacts table except via the pre-seeded set.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass, field

#: The worker's email regex (functions/validation.py), restated.
EMAIL_RE = re.compile(r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$")
FIELDS = ["email", "first_name", "last_name", "company"]
FIRST = ["Ana", "Bo", "Chen", "Dara", "Eli", "Femi", "Gus", "Hana", "Ivo",
         "Jun", "Kai", "Lea", "Milo", "Nia", "Omar", "Pia"]
LAST = ["Ng", "Okafor", "Silva", "Tanaka", "Novak", "Haddad", "Berg",
        "Costa", "Dubois", "Ivanova", "Kowalski", "Moreau"]
COMPANIES = ["Acme Corp", "Globex", "Initech", "Umbrella Ltd", "Hooli",
             "Stark Industries", "Wayne Enterprises", "Soylent"]
DOMAINS = ["example.com", "mail.example.org", "corp.example.net"]


def existing_emails(seed: int, n: int) -> list[str]:
    """The pre-seeded contacts table's emails (already normalised)."""
    return [f"known{seed}.{i}@contacts.example.com" for i in range(n)]


def _vary_case(rng: random.Random, email: str) -> str:
    """Same normalised email, different spelling: case and padding."""
    local, domain = email.split("@")
    variant = rng.choice([email.upper(), local.capitalize() + "@" + domain,
                          email.swapcase()])
    return rng.choice(["", " ", "  "]) + variant + rng.choice(["", " "])


def make_job_rows(rng: random.Random, tag: str, n_rows: int,
                  existing: list[str]) -> list[dict[str, str]]:
    """Rows of one contacts CSV, in file order."""
    rows: list[dict[str, str]] = []
    unique: list[str] = []          # valid, job-unique emails seen so far
    for i in range(n_rows):
        first, last = rng.choice(FIRST), rng.choice(LAST)
        row = {"email": f"{first}.{last}.{tag}.{i}@{rng.choice(DOMAINS)}",
               "first_name": first, "last_name": last,
               "company": rng.choice(COMPANIES)}
        draw = rng.random()
        if draw < 0.10 and unique:
            row["email"] = _vary_case(rng, rng.choice(unique))
        elif draw < 0.15:
            row["email"] = rng.choice([f"{first}.{tag}.{i}.at.example.com",
                                       f"{first}{i}@{tag}",
                                       f"{first}.{tag}.{i}@example.c"])
        elif draw < 0.20:
            row[rng.choice(FIELDS)] = rng.choice(["", "   "])
        elif draw < 0.25:
            row["email"] = _vary_case(rng, rng.choice(existing))
        else:
            unique.append(row["email"])
        rows.append(row)
    return rows


def write_csv(path: str, rows: list[dict[str, str]], delimiter: str) -> int:
    """Write rows with a header; returns the file size in bytes."""
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(delimiter.join(FIELDS) + "\n")
        for row in rows:
            f.write(delimiter.join(row[c] for c in FIELDS) + "\n")
    return os.path.getsize(path)


@dataclass
class Backlog:
    """One generated backlog: job id -> (csv path, rows)."""

    paths: dict[int, str] = field(default_factory=dict)
    rows: dict[int, list[dict[str, str]]] = field(default_factory=dict)
    input_bytes: int = 0


def make_backlog(seed: int, out_dir: str, n_jobs: int, rows_per_job: int,
                 existing: list[str]) -> Backlog:
    """Write ``n_jobs`` CSVs of about ``rows_per_job`` rows into out_dir.

    The delimiter (``,`` or ``;``) is drawn per file, so the worker's
    dialect sniffing picks a different answer from job to job.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    backlog = Backlog()
    for job_id in range(1, n_jobs + 1):
        n = rng.randint(rows_per_job * 9 // 10, rows_per_job * 11 // 10)
        rows = make_job_rows(rng, f"s{seed}j{job_id}", n, existing)
        path = os.path.join(out_dir, f"contacts_{job_id}.csv")
        backlog.input_bytes += write_csv(path, rows, rng.choice([",", ";"]))
        backlog.paths[job_id] = path
        backlog.rows[job_id] = rows
    return backlog


# -- expected outcome --------------------------------------------------------

def _clean(v: str | None) -> str:
    return (v or "").strip(" ")


def verdicts(rows: list[dict[str, str]], existing: set[str]) -> list[
        tuple[str | None, str]]:
    """Per row: (issue type or None, issue key), by the worker's rules."""
    norms = [_clean(r["email"]).lower() for r in rows]
    counts: dict[str, int] = {}
    for n in norms:
        if n:
            counts[n] = counts.get(n, 0) + 1
    out: list[tuple[str | None, str]] = []
    for i, (row, norm) in enumerate(zip(rows, norms)):
        if any(not _clean(row[c]) for c in FIELDS):
            kind = "MISSING_REQUIRED_FIELD"
        elif not EMAIL_RE.match(_clean(row["email"])):
            kind = "INVALID_EMAIL"
        elif counts.get(norm, 0) > 1:
            kind = "DUPLICATE_EMAIL"
        elif norm in existing:
            kind = "EXISTING_EMAIL"
        else:
            kind = None
        out.append((kind, norm if norm else f"row_{i + 1}"))
    return out


@dataclass
class Expected:
    """What the store must hold after a phase."""

    job_status: dict[int, str]
    staging_rows: int
    staging_status: dict[str, int]
    issues_by_type: dict[str, int]
    unresolved_issues: int
    contact_emails: set[str]


def expected_outcome(rows_by_job: dict[int, list[dict[str, str]]],
                     existing: set[str]) -> tuple[Expected, Expected]:
    """Expected store state after phase 1 (initial drain) and after
    phase 2 (discard every failing row, re-send, drain again)."""
    status1: dict[int, str] = {}
    issues: set[tuple[int, str, str]] = set()
    valid_by_job: dict[int, list[str]] = {}
    failing = 0
    for job_id, rows in rows_by_job.items():
        v = verdicts(rows, existing)
        job_issues = {(job_id, kind, key) for kind, key in v if kind}
        issues |= job_issues
        failing += sum(1 for kind, _ in v if kind)
        valid_by_job[job_id] = [_clean(r["email"]).lower()
                                for r, (kind, _) in zip(rows, v) if not kind]
        status1[job_id] = "NEEDS_REVIEW" if job_issues else "COMPLETED"
    total = sum(len(r) for r in rows_by_job.values())
    by_type: dict[str, int] = {}
    for _, kind, _ in issues:
        by_type[kind] = by_type.get(kind, 0) + 1
    done1 = {e for j, s in status1.items() if s == "COMPLETED"
             for e in valid_by_job[j]}
    phase1 = Expected(
        job_status=status1, staging_rows=total,
        staging_status=_drop_zero({
            "ISSUE": failing,
            "READY": sum(len(valid_by_job[j]) for j, s in status1.items()
                         if s != "COMPLETED"),
            "SUCCESS": len(done1)}),
        issues_by_type=by_type, unresolved_issues=len(issues),
        contact_emails=set(existing) | done1)
    # Phase 2: failing rows are DISCARDed; the survivors were valid, are
    # job-unique and absent from contacts, so every job consolidates and
    # every issue auto-resolves -- provided no two jobs share a valid
    # email, which would make a later job see an earlier one's contact.
    all_valid = {e for emails in valid_by_job.values() for e in emails}
    if len(all_valid) != sum(len(e) for e in valid_by_job.values()):
        raise ValueError("two jobs share a valid email; the expected "
                         "outcome would depend on processing order")
    phase2 = Expected(
        job_status={j: "COMPLETED" for j in rows_by_job}, staging_rows=total,
        staging_status=_drop_zero({"DISCARD": failing,
                                   "SUCCESS": total - failing}),
        issues_by_type=by_type, unresolved_issues=0,
        contact_emails=set(existing) | all_valid)
    return phase1, phase2


def _drop_zero(d: dict[str, int]) -> dict[str, int]:
    return {k: v for k, v in d.items() if v}
