"""Seeded generator of CMS-shaped landing drops for the ``etl_nightly``
workload, plus the warehouse facts a correct pipeline must produce.

One call writes two drops under ``<root>/drop1`` and ``<root>/drop2``:

- drop 1: ``n`` facilities;
- drop 2: 90% of drop 1's facilities with every value regenerated, plus
  ``n // 10`` new facilities, so the second ``pipeline.run`` exercises the
  SCD1 warehouse merge.

Each drop holds a wide ``NH_ProviderInfo`` file with CMS header spellings
(some padded) and padded values, 17 quality measures per facility in
``NH_QualityMsr_MDS``, one ``NH_SurveySummary`` row per facility, 1-3
``NH_Penalties`` rows for about 4 facilities in 10, and one file that no
routing rule knows (``NH_Ownership``). File modification times are fixed
per drop, so the same seed gives byte-identical files with identical
metadata, and drop 2 is always the newer drop.
"""

from __future__ import annotations

import os

import numpy as np

MEASURES = (
    ("401", "Percentage of long-stay residents whose need for help with daily activities has increased", "Long Stay"),
    ("404", "Percentage of long-stay residents who lose too much weight", "Long Stay"),
    ("405", "Percentage of low risk long-stay residents who lose control of their bowels or bladder", "Long Stay"),
    ("406", "Percentage of long-stay residents with a catheter inserted and left in their bladder", "Long Stay"),
    ("407", "Percentage of long-stay residents with a urinary tract infection", "Long Stay"),
    ("408", "Percentage of long-stay residents who have depressive symptoms", "Long Stay"),
    ("409", "Percentage of long-stay residents who were physically restrained", "Long Stay"),
    ("410", "Percentage of long-stay residents experiencing one or more falls with major injury", "Long Stay"),
    ("415", "Percentage of long-stay residents assessed and appropriately given the pneumococcal vaccine", "Long Stay"),
    ("419", "Percentage of long-stay residents who received an antipsychotic medication", "Long Stay"),
    ("430", "Percentage of short-stay residents assessed and appropriately given the pneumococcal vaccine", "Short Stay"),
    ("434", "Percentage of short-stay residents who newly received an antipsychotic medication", "Short Stay"),
    ("451", "Percentage of long-stay residents whose ability to walk independently worsened", "Long Stay"),
    ("452", "Percentage of long-stay residents who received an antianxiety or hypnotic medication", "Long Stay"),
    ("454", "Percentage of long-stay residents assessed and appropriately given the seasonal influenza vaccine", "Long Stay"),
    ("471", "Percentage of short-stay residents who made improvements in function", "Short Stay"),
    ("480", "Percentage of short-stay residents with pressure ulcers that are new or worsened", "Short Stay"),
)

STATES = ("AL", "AK", "AZ", "CA", "CO", "FL", "GA", "IL", "MA", "MI", "NY",
          "OH", "OR", "PA", "TX", "WA")
CITIES = ("Springfield", "Salem", "Franklin", "Clinton", "Madison",
          "Georgetown", "Arlington", "Fairview", "Riverside", "Ashland")
STREETS = ("Main St", "Oak Ave", "Pine Rd", "Maple Dr", "Cedar Ln", "Elm St")
OWNERSHIP = ("For profit - Corporation", "Non profit - Corporation",
             "Government - County", "For profit - Limited Liability company")
PENALTY_TYPES = ("Fine", "Payment Denial")

#: Drop month label and fixed file modification time (UTC seconds).
DROPS = (("Jun2025", 1748736000), ("Jul2025", 1751328000))

# Provider columns: header spelling (as CMS ships it, some padded) and the
# value family the generator draws from.
_PROVIDER_COLUMNS = (
    ("CMS Certification Number (CCN)", "ccn"),
    (" Provider Name", "name"),
    ("Provider Address ", "address"),
    ("City/Town", "city"),
    ("State", "state"),
    ("ZIP Code", "zip"),
    ("Telephone Number", "phone"),
    ("Provider SSA County Code", "int3"),
    ("County/Parish", "city"),
    ("Ownership Type", "ownership"),
    ("Number of Certified Beds", "beds"),
    ("Average Number of Residents per Day", "dec1"),
    ("Average Number of Residents per Day Footnote", "footnote"),
    ("Provider Type", "ptype"),
    ("Provider Resides in Hospital", "yn"),
    ("Legal Business Name", "legal"),
    ("Date First Approved to Provide Medicare and Medicaid Services", "date"),
    ("Affiliated Entity Name", "name"),
    ("Affiliated Entity ID", "int3"),
    ("Continuing Care Retirement Community", "yn"),
    ("Special Focus Status", "sff"),
    ("Abuse Icon", "yn"),
    ("Most Recent Health Inspection More Than 2 Years Ago", "yn"),
    ("Provider Changed Ownership in Last 12 Months", "yn"),
    ("With a Resident and Family Council", "council"),
    ("Automatic Sprinkler Systems in All Required Areas", "yn"),
    ("Overall Rating", "star"),
    ("Overall Rating Footnote", "footnote"),
    ("Health Inspection Rating", "star"),
    ("Health Inspection Rating Footnote", "footnote"),
    ("QM Rating", "star"),
    ("QM Rating Footnote", "footnote"),
    ("Long-Stay QM Rating", "star"),
    ("Short-Stay QM Rating", "star"),
    ("Staffing Rating", "star"),
    ("Staffing Rating Footnote", "footnote"),
    ("Reported Staffing Footnote", "footnote"),
    ("Reported Nurse Aide Staffing Hours per Resident per Day", "dec5"),
    ("Reported LPN Staffing Hours per Resident per Day", "dec5"),
    ("Reported RN Staffing Hours per Resident per Day", "dec5"),
    ("Reported Licensed Staffing Hours per Resident per Day", "dec5"),
    ("Reported Total Nurse Staffing Hours per Resident per Day", "dec5"),
    ("Total number of nurse staff hours per resident per day on the weekend", "dec5"),
    ("Registered Nurse hours per resident per day on the weekend", "dec5"),
    ("Reported Physical Therapist Staffing Hours per Resident Per Day", "dec5"),
    ("Total nursing staff turnover", "dec1"),
    ("Registered Nurse turnover", "dec1"),
    ("Number of administrators who have left the nursing home", "small"),
    ("Case-Mix Nurse Aide Staffing Hours per Resident per Day", "dec5"),
    ("Case-Mix LPN Staffing Hours per Resident per Day", "dec5"),
    ("Case-Mix RN Staffing Hours per Resident per Day", "dec5"),
    ("Case-Mix Total Nurse Staffing Hours per Resident per Day", "dec5"),
    ("Adjusted Nurse Aide Staffing Hours per Resident per Day", "dec5"),
    ("Adjusted LPN Staffing Hours per Resident per Day", "dec5"),
    ("Adjusted RN Staffing Hours per Resident per Day", "dec5"),
    ("Adjusted Total Nurse Staffing Hours per Resident per Day", "dec5"),
    ("Rating Cycle 1 Standard Survey Health Date", "date"),
    ("Rating Cycle 1 Total Number of Health Deficiencies", "small"),
    ("Rating Cycle 1 Number of Standard Health Deficiencies", "small"),
    ("Rating Cycle 1 Number of Complaint Health Deficiencies", "small"),
    ("Rating Cycle 1 Health Deficiency Score", "int3"),
    ("Rating Cycle 1 Number of Health Revisits", "small"),
    ("Rating Cycle 1 Health Revisit Score", "small"),
    ("Rating Cycle 1 Total Health Score", "int3"),
    ("Rating Cycle 2/3 Standard Health Survey Date", "date"),
    ("Rating Cycle 2/3 Total Number of Health Deficiencies", "small"),
    ("Rating Cycle 2/3 Number of Standard Health Deficiencies", "small"),
    ("Rating Cycle 2/3 Number of Complaint Health Deficiencies", "small"),
    ("Rating Cycle 2/3 Health Deficiency Score", "int3"),
    ("Rating Cycle 2/3 Number of Health Revisits", "small"),
    ("Rating Cycle 2/3 Health Revisit Score", "small"),
    ("Rating Cycle 2/3 Total Health Score", "int3"),
    ("Total Weighted Health Survey Score", "dec3"),
    ("Number of Facility Reported Incidents", "small"),
    ("Number of Substantiated Complaints", "small"),
    ("Number of Citations from Infection Control Inspections", "small"),
    ("Number of Fines", "small"),
    ("Total Amount of Fines in Dollars", "money"),
    ("Number of Payment Denials", "small"),
    ("Total Number of Penalties", "small"),
    ("Location", "location"),
    ("Latitude", "lat"),
    ("Longitude", "lon"),
    ("Geocoding Footnote", "footnote"),
    ("Processing Date", "pdate"),
)

_QUALITY_HEADER = (
    "CMS Certification Number (CCN)", "Provider Name", "Provider Address",
    "City/Town", "State", "ZIP Code", "Measure Code", "Measure Description",
    "Resident type", "Q1 Measure Score", "Footnote for Q1 Measure Score",
    "Q2 Measure Score", "Footnote for Q2 Measure Score", "Q3 Measure Score",
    "Footnote for Q3 Measure Score", "Q4 Measure Score",
    "Footnote for Q4 Measure Score", "Four Quarter Average Score",
    "Footnote for Four Quarter Average Score",
    "Used in Quality Measure Five Star Rating", "Measure Period", "Location",
    "Processing Date",
)

_SURVEY_HEADER = (
    "CMS Certification Number (CCN)", "Provider Name", "Provider Address",
    "City/Town", "ZIP Code", "Inspection Cycle", "Health Survey Date",
    "Fire Safety Survey Date", "Total Number of Health Deficiencies",
    "Total Number of Fire Safety Deficiencies",
    "Count of Freedom from Abuse and Neglect and Exploitation Deficiencies",
    "Count of Quality of Life and Care Deficiencies",
)

_PENALTY_HEADER = (
    "CMS Certification Number (CCN)", "Provider Name", "Provider Address",
    "City/Town", "ZIP Code", "Penalty Date", "Penalty Type", "Fine Amount",
    "Payment Denial Start Date", "Payment Denial Length in Days",
)


def _csv_cell(v: str) -> str:
    return f'"{v}"' if "," in v or '"' in v else v


def _write_csv(path: str, header, rows, mtime: int) -> int:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(_csv_cell(h) for h in header) + "\n")
        for r in rows:
            f.write(",".join(_csv_cell(v) for v in r) + "\n")
    os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def _pad(rng: np.random.Generator, values: list[str], share: float = 0.1) -> list[str]:
    """Surround a random ``share`` of the values with spaces (cleaning trims
    them back)."""
    mask = rng.random(len(values)) < share
    return [f" {v} " if m else v for v, m in zip(values, mask)]


def _date(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    days = rng.integers(lo, hi, n)
    return [str(d) for d in np.datetime64("1970-01-01") + days.astype("timedelta64[D]")]


def _column(rng: np.random.Generator, kind: str, fac: dict) -> list[str]:
    """Values of one provider column family for the facilities in ``fac``."""
    n = len(fac["ccn"])
    if kind == "pdate":
        return [fac["pdate"]] * n
    if kind in fac:
        return list(fac[kind])
    if kind == "phone":
        return [f"{x:010d}" for x in rng.integers(2_000_000_000, 9_999_999_999, n)]
    if kind == "int3":
        return [str(x) for x in rng.integers(1, 999, n)]
    if kind == "ownership":
        return [OWNERSHIP[i] for i in rng.integers(0, len(OWNERSHIP), n)]
    if kind == "beds":
        return [str(x) for x in fac["beds_int"]]
    if kind == "dec1":
        return [f"{x:.1f}" for x in rng.uniform(10, 200, n)]
    if kind == "dec3":
        return [f"{x:.3f}" for x in rng.uniform(0, 300, n)]
    if kind == "dec5":
        return [f"{x:.5f}" for x in rng.uniform(0.1, 5, n)]
    if kind == "footnote":
        return [("" if x > 1 else str(x + 1)) for x in rng.integers(0, 12, n)]
    if kind == "ptype":
        return ["Medicare and Medicaid" if x else "Medicare" for x in rng.integers(0, 5, n)]
    if kind == "yn":
        return ["Y" if x else "N" for x in rng.integers(0, 2, n)]
    if kind == "legal":
        return [f"{nm.upper()}, LLC" for nm in fac["name"]]
    if kind == "date":
        return _date(rng, n, 3650, 20000)
    if kind == "sff":
        return ["SFF" if x == 0 else "" for x in rng.integers(0, 50, n)]
    if kind == "council":
        return ["Both" if x else "Resident" for x in rng.integers(0, 3, n)]
    if kind == "star":
        return [str(x) for x in rng.integers(1, 6, n)]
    if kind == "small":
        return [str(x) for x in rng.integers(0, 12, n)]
    if kind == "money":
        return [f"{x}" for x in rng.integers(0, 250_000, n)]
    if kind == "location":
        return [f"{a} {c} {s} {z}" for a, c, s, z in
                zip(fac["address"], fac["city"], fac["state"], fac["zip"])]
    if kind == "lat":
        return [f"{x:.6f}" for x in rng.uniform(25, 49, n)]
    if kind == "lon":
        return [f"{x:.6f}" for x in rng.uniform(-124, -67, n)]
    raise ValueError(f"unknown column family {kind!r}")


def _facility_attrs(rng: np.random.Generator, ccns: list[str], pdate: str) -> dict:
    n = len(ccns)
    attrs = {
        "ccn": ccns,
        "name": [f"{CITIES[a]} {['Care Center', 'Nursing Home', 'Rehab', 'Manor'][b]} {i}"
                 for i, (a, b) in enumerate(zip(rng.integers(0, len(CITIES), n),
                                                rng.integers(0, 4, n)))],
        "address": [f"{h} {STREETS[s]}" for h, s in
                    zip(rng.integers(1, 9999, n), rng.integers(0, len(STREETS), n))],
        "city": [CITIES[i] for i in rng.integers(0, len(CITIES), n)],
        "state": [STATES[i] for i in rng.integers(0, len(STATES), n)],
        "zip": [f"{x:05d}" for x in rng.integers(1000, 99999, n)],
        "beds_int": rng.integers(20, 400, n),
        "pdate": pdate,
    }
    return attrs


def _write_drop(rng: np.random.Generator, out: str, ccns: list[str], label: str,
                mtime: int) -> dict:
    """Write the five files of one drop; return what the warehouse must
    hold for these facilities."""
    os.makedirs(out, exist_ok=True)
    pdate = str(np.datetime64(mtime, "s").astype("datetime64[D]"))
    fac = _facility_attrs(rng, ccns, pdate)
    n = len(ccns)
    sizes = {}

    cols = [_pad(rng, _column(rng, kind, fac)) if kind in ("ccn", "name", "city", "beds")
            else _column(rng, kind, fac) for _, kind in _PROVIDER_COLUMNS]
    sizes["provider_info"] = _write_csv(
        f"{out}/NH_ProviderInfo_{label}.csv", [h for h, _ in _PROVIDER_COLUMNS],
        zip(*cols), mtime)

    # Quality: facility x measure. Scores carry 3 decimals so the verified
    # total of round(q1 * 1000) is an exact integer.
    m = len(MEASURES)
    q1 = rng.integers(0, 100_000, n * m)
    other = rng.integers(0, 100_000, (4, n * m))
    period = "20240401-20250331"
    rows = []
    for i in range(n):
        base = (ccns[i], fac["name"][i], fac["address"][i], fac["city"][i],
                fac["state"][i], fac["zip"][i])
        for j, (code, desc, rtype) in enumerate(MEASURES):
            k = i * m + j
            rows.append((*base, code, desc, rtype, f"{q1[k] / 1000:.3f}", "",
                         f"{other[0, k] / 1000:.3f}", "", f"{other[1, k] / 1000:.3f}",
                         "", f"{other[2, k] / 1000:.3f}", "",
                         f"{other[3, k] / 1000:.3f}", "", "Y" if j % 3 else "N",
                         period, f"{fac['city'][i]} {fac['state'][i]}", pdate))
    sizes["qualitymsr_mds"] = _write_csv(
        f"{out}/NH_QualityMsr_MDS_{label}.csv", _QUALITY_HEADER, rows, mtime)

    health = _date(rng, n, 19000, 20300)
    fire = _date(rng, n, 19000, 20300)
    counts = rng.integers(0, 25, (4, n))
    rows = [(ccns[i], fac["name"][i], fac["address"][i], fac["city"][i], fac["zip"][i],
             "1", health[i], fire[i], *(str(c) for c in counts[:, i])) for i in range(n)]
    sizes["survey_summary"] = _write_csv(
        f"{out}/NH_SurveySummary_{label}.csv", _SURVEY_HEADER, rows, mtime)

    # About 4 in 10 facilities carry 1-3 penalty rows.
    n_pen = np.where(rng.random(n) < 0.4, rng.integers(1, 4, n), 0)
    rows = []
    for i in np.flatnonzero(n_pen):
        for d in _date(rng, int(n_pen[i]), 19000, 20300):
            kind = PENALTY_TYPES[int(rng.integers(0, 2))]
            fine = str(int(rng.integers(650, 90_000))) if kind == "Fine" else ""
            start, length = (d, str(int(rng.integers(5, 60)))) if not fine else ("", "")
            rows.append((ccns[i], fac["name"][i], fac["address"][i], fac["city"][i],
                         fac["zip"][i], d, kind, fine, start, length))
    sizes["penalties"] = _write_csv(
        f"{out}/NH_Penalties_{label}.csv", _PENALTY_HEADER, rows, mtime)

    # A file no routing rule knows: synced to the 'unknown' domain and
    # archived to the error zone.
    owners = rng.integers(0, n, max(1, n // 20))
    rows = [(ccns[i], fac["name"][i], "5% OR GREATER DIRECT OWNERSHIP INTEREST",
             f"OWNER {i}") for i in owners]
    sizes["unknown"] = _write_csv(
        f"{out}/NH_Ownership_{label}.csv",
        ("CMS Certification Number (CCN)", "Provider Name", "Role played by Owner",
         "Owner Name"), rows, mtime)

    return {
        "beds": dict(zip(ccns, (int(b) for b in fac["beds_int"]))),
        "q1_milli": {c: int(q1[i * m:(i + 1) * m].sum()) for i, c in enumerate(ccns)},
        "penalty_rows": dict(zip(ccns, (max(1, int(k)) for k in n_pen))),
        "bytes": sizes,
    }


def _facts(state: dict) -> dict:
    """Warehouse facts for the merged facility state after one drop."""
    group_sizes: dict[str, int] = {}
    for k in state["penalty_rows"].values():
        group_sizes[str(k)] = group_sizes.get(str(k), 0) + 1
    n = len(state["beds"])
    return {
        "facilities": n,
        "facility_measures": n * len(MEASURES),
        "penalty_rows": sum(state["penalty_rows"].values()),
        "penalty_group_sizes": dict(sorted(group_sizes.items())),
        "beds_total": sum(state["beds"].values()),
        "q1_milli_total": sum(state["q1_milli"].values()),
    }


def generate(root: str, seed: int, n: int) -> dict:
    """Write both drops under ``root`` and return the expected facts:
    per drop the warehouse totals after that drop's ``pipeline.run``, which
    drop wins each overlapping key, and the landing CSV sizes."""
    rng = np.random.default_rng(seed)
    n_new = n // 10
    pool = rng.choice(np.arange(10_000, 760_000), size=n + n_new, replace=False)
    ccns = [f"{x:06d}" for x in pool]
    first, new = ccns[:n], ccns[n:]
    kept = [first[i] for i in sorted(rng.choice(n, size=n - n_new, replace=False))]

    (label1, t1), (label2, t2) = DROPS
    d1 = _write_drop(rng, f"{root}/drop1", first, label1, t1)
    d2 = _write_drop(rng, f"{root}/drop2", kept + new, label2, t2)

    merged = {k: {**d1[k], **d2[k]} for k in ("beds", "q1_milli", "penalty_rows")}
    return {
        "seed": seed,
        "facilities_per_drop": n,
        "drops": [_facts(d1), _facts(merged)],
        # SCD1: drop 2 wins every key it carries; drop 1 keeps the rest.
        "winner": {"drop2": len(kept) + len(new), "drop1": n - len(kept),
                   "overlap": len(kept)},
        "landing_bytes": [sum(d1["bytes"].values()), sum(d2["bytes"].values())],
        "landing_rows": {"provider_info": n, "qualitymsr_mds": n * len(MEASURES)},
    }
