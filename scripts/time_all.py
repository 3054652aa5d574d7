"""One-rep wall-clock of EVERY registered batch query — the outlier
detector that found the round-6 shared-subtree wave (SCALE.md).

Usage: python scripts/time_all.py [sf_dir] [top_n]

The bench suites track the headline queries; this times the whole
registry once so a non-headline query that quietly costs more than any
headline one cannot hide. One rep is noisy (±20%) but outliers worth
fixing are integer multiples, not percentages — re-measure candidates
median-of-3 before acting. Streaming specs are skipped (they need a
sink + trigger, covered by pytest).

Like bench.py, every spec's ``prepare`` (the one-time build of the
persisted trees it serves from) runs before timing; the total build
time and the number of prepared specs print on their own line, and the
per-query times are serving only.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from game_data_etl_pipeline_spark import registry
from game_data_etl_pipeline_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    spark = get_spark("time_all")
    specs = registry.all_specs()
    # warm-up absorbs session/codegen/footer costs; any spec will do
    warm = specs.get("q_revenue_by_region") or next(iter(specs.values()))
    warm.fn(spark, sf_dir).count()
    specs = {name: spec for name, spec in specs.items() if "streaming" not in spec.tags}
    prepared = [spec for spec in specs.values() if spec.prepare is not None]
    t0 = time.perf_counter()
    for spec in prepared:
        try:
            spec.prepare(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"prepare {spec.name} ERROR {type(e).__name__}: {e}", file=sys.stderr)
    print(f"build {time.perf_counter() - t0:.1f} s over {len(prepared)} prepared specs\n")
    rows: list[tuple[float, str]] = []
    for name, spec in specs.items():
        try:
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).count()
            rows.append((time.perf_counter() - t0, name))
        except Exception as e:  # noqa: BLE001
            rows.append((float("inf"), f"{name} ERROR {type(e).__name__}"))
    rows.sort(reverse=True)
    for dt, name in rows[:top_n]:
        print(f"{dt:8.3f}  {name}")
    finite = [d for d, _ in rows if d != float("inf")]
    if finite:
        print(f"\ntotal {sum(finite):.1f} s over {len(finite)} queries "
              f"(median {sorted(finite)[len(finite) // 2]:.3f} s)")
    else:
        print("\nno query completed")
    return 0 if finite else 1


if __name__ == "__main__":
    raise SystemExit(main())
