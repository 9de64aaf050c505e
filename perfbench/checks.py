"""Oracle checks: compare an engine output with the expected result that
``inputs`` computed independently. Each returns a list of problems, empty
when the output is correct."""

from __future__ import annotations


def _first(problems: list[str], limit: int = 5) -> list[str]:
    return problems[:limit] + ([f"... {len(problems) - limit} more"] if len(problems) > limit else [])


def check_area_aggregates(got: dict, expect: dict) -> list[str]:
    """``got`` and ``expect``: {area_id: [rows, sum of ids, xor of tile ids]}."""
    got = {int(k): list(v) for k, v in got.items()}
    expect = {int(k): list(v) for k, v in expect.items()}
    problems = [f"area {a}: got {got.get(a)}, want {expect.get(a)}"
                for a in sorted(set(got) | set(expect)) if got.get(a) != expect.get(a)]
    return _first(problems)


def check_pairs(got: list, expect: list) -> list[str]:
    """Exact set of (point_id, area_id) assignment pairs."""
    g = {tuple(p) for p in got}
    e = {tuple(p) for p in expect}
    problems = []
    if len(got) != len(g):
        problems.append(f"{len(got) - len(g)} duplicate assignment rows")
    problems += [f"missing pair {p}" for p in sorted(e - g)]
    problems += [f"unexpected pair {p}" for p in sorted(g - e)]
    return _first(problems)


def check_counters(got: dict, expect: dict) -> list[str]:
    """Per-job [number_target, number_identical, number_osmonly]."""
    got = {str(k): list(v) for k, v in got.items()}
    problems = [f"job {j}: got {got.get(j)}, want {expect.get(j)}"
                for j in sorted(set(got) | set(expect), key=int) if got.get(j) != expect.get(j)]
    return _first(problems)


def check_matched(got: dict, expect: dict) -> list[str]:
    """Per treffertyp [rows, sum of source ids, sum of osm ids]."""
    problems = [f"treffertyp {t}: got {got.get(t)}, want {expect.get(t)}"
                for t in sorted(set(got) | set(expect)) if got.get(t) != expect.get(t)]
    return problems


def check_nearest(got: dict, expect: dict) -> list[str]:
    """{point id: nearest street_key}; every point must be answered."""
    got = {str(k): int(v) for k, v in got.items()}
    problems = [f"point {p}: got street {got.get(p)}, want {s}"
                for p, s in expect.items() if got.get(p) != s]
    problems += [f"unexpected point {p}" for p in set(got) - set(expect)]
    return _first(problems)


def check_quarantine(got: list, tampered: list, lossy_psnr: dict, psnr_min: float = 40.0) -> list[str]:
    """``got``: quarantine rows (image_id, psnr_db, pixels_ok, caption_ok).
    Tampered captions fail the caption check with intact pixels; lossy
    re-encodes keep their caption and pass the pixel check at a PSNR equal
    to the one computed from the generating pixel arrays."""
    rows = {r[0]: r for r in got}
    problems = []
    if len(rows) != len(got):
        problems.append(f"{len(got) - len(rows)} duplicate quarantine rows")
    want = set(tampered) | set(lossy_psnr)
    problems += [f"missed quarantine id {i}" for i in sorted(want - set(rows))]
    problems += [f"unexpected quarantine id {i}" for i in sorted(set(rows) - want)]
    for i in tampered:
        if i in rows and (rows[i][3] or not rows[i][2]):
            problems.append(f"{i}: tampered caption not flagged alone: {rows[i]}")
    for i, p in lossy_psnr.items():
        if i not in rows:
            continue
        _, psnr, pix_ok, cap_ok = rows[i]
        if not (pix_ok and cap_ok and psnr >= psnr_min and abs(psnr - p) < 1e-6):
            problems.append(f"{i}: lossy verdict {rows[i]}, want psnr {p:.4f} >= {psnr_min}")
    return _first(problems)


def check_verified_rows(got: list, psnr_min: float = 40.0) -> list[str]:
    """BASELINE invariants on verified (assigned) image rows: PSNR at least
    ``psnr_min`` dB, and a caption byte-equal to the source (the digest gate
    admits a row only when its caption equals the source caption, so the
    verdict rows carry caption_ok).  ``got``: [(image_id, psnr_db)]."""
    return _first([f"{i}: psnr {p} < {psnr_min}" for i, p in got if not p >= psnr_min])


def check_resume(first: dict | None, resumed: dict, fail_on: list, parts: int) -> list[str]:
    """The injected failure must leave exactly the failed partitions for the
    resume pass: it computes those and skips the other ``parts``."""
    problems = []
    if first is not None:
        problems.append("the injected partition failure did not surface")
    want_computed = sorted(str(k) for k in fail_on)
    want_skipped = sorted(str(k) for k in range(parts) if k not in fail_on)
    if resumed["computed"] != want_computed:
        problems.append(f"resume computed {resumed['computed']}, want {want_computed}")
    if resumed["skipped"] != want_skipped:
        problems.append(f"resume skipped {resumed['skipped']}, want {want_skipped}")
    return problems
