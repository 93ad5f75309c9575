"""Construction-cost profiler: times ONLY plan construction (no actions)
for the named queries in a bench-identical session, best-of-N, with an
optional cProfile dump of the first build.

Usage: python tools/build_profile.py [sf_dir] q1 [q2 ...] [--reps N] [--cprofile]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = list(sys.argv[1:])
    reps = 5
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    do_cprofile = "--cprofile" in args
    if do_cprofile:
        args.remove("--cprofile")
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args

    import __spark_entry__ as entrymod
    from bench import bench_session, warm_up

    spark = bench_session("build_profile")
    qs = entrymod.queries()
    warm_up(spark, entrymod, sf_dir, [qs[nm] for nm in names])

    for nm in names:
        fn = qs[nm]
        if do_cprofile:
            import cProfile
            import pstats

            pr = cProfile.Profile()
            pr.enable()
            fn(spark, sf_dir)
            pr.disable()
            st = pstats.Stats(pr)
            st.sort_stats("cumulative")
            st.print_stats(25)
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir)
            ts.append(time.perf_counter() - t0)
        print(
            f"BUILD {nm:22s} best={min(ts):6.3f} med={sorted(ts)[len(ts)//2]:6.3f}"
            f" all={['%.3f' % t for t in ts]}"
        )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
