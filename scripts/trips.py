"""Count the py4j round trips that building each query's plan makes.

Usage: python scripts/trips.py --tables DIR [names...] [--basket] [--sites]

Builds each named registry query (default: all of ``queries()``) over
the parquet tables in ``DIR``: once untimed, then a second, warm time
while counting. Building means calling ``queries()[name](spark, DIR)``,
which runs the eager ``barrier.cut`` jobs but executes nothing else.
Prints one line per query (trips, build seconds), then the totals.
``--basket`` names the ``analytics_mix`` basket of ``perfbench/run.py``;
``--sites`` adds, under each query, the innermost package frame of each
trip with its count.

A trip is one non-memory py4j command: the counter wraps
``py4j.clientserver.ClientServerConnection.send_command`` and skips
commands starting with ``"m\\n"``, the memory releases that Python's GC
sends at times of its own choosing. Counted that way a warm build
repeats exactly; the first build in a session makes a few more trips
(the catalog memo and other first-use work), hence the untimed one.
The session is ``local[4]`` with 4 shuffle partitions, as in
``perfbench/sut.py``. ``tests/test_plan_trips.py`` imports the counter.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SITE_ROOTS = (os.path.join(REPO, "node_js_etl_processor_spark") + os.sep,
               os.path.join(REPO, "__spark_entry__.py"))


def _site() -> str:
    """``path:line`` of the innermost frame in the package or registry."""
    f = sys._getframe(2)
    while f is not None:
        path = f.f_code.co_filename
        if path.startswith(_SITE_ROOTS):
            return f"{os.path.relpath(path, REPO)}:{f.f_lineno}"
        f = f.f_back
    return "<outside>"


class Trips:
    def __init__(self, sites: bool):
        self.n = 0
        self.sites = collections.Counter() if sites else None


@contextlib.contextmanager
def counting(sites: bool = False):
    """Count the non-memory py4j commands this thread sends inside the
    block (another thread's calls, say a stream's batch, are not its)."""
    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    trips = Trips(sites)
    me = threading.get_ident()

    def send_command(self, command, *args, **kwargs):
        if not command.startswith("m\n") and threading.get_ident() == me:
            trips.n += 1
            if trips.sites is not None:
                trips.sites[_site()] += 1
        return real(self, command, *args, **kwargs)

    ClientServerConnection.send_command = send_command
    try:
        yield trips
    finally:
        ClientServerConnection.send_command = real


def query_trips(spark, tables: str, names, sites: bool = False):
    """Yield ``(name, trips, seconds)`` for each registry query named
    (all when ``names`` is empty): one untimed build, then a counted one."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    registry = entry.queries()
    for name in names or registry:
        registry[name](spark, tables)
        with counting(sites) as trips:
            t0 = time.perf_counter()
            registry[name](spark, tables)
            seconds = time.perf_counter() - t0
        yield name, trips, seconds


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registry queries (default: all)")
    ap.add_argument("--tables", required=True, help="directory of the parquet tables")
    ap.add_argument("--basket", action="store_true", help="the analytics_mix basket")
    ap.add_argument("--sites", action="store_true", help="count trips per calling frame")
    args = ap.parse_args()
    names = list(args.names)
    if args.basket:
        sys.path.insert(0, os.path.join(REPO, "perfbench"))
        from run import BASKET

        names += list(BASKET)

    sys.path.insert(0, REPO)
    from node_js_etl_processor_spark.session import get_spark

    spark = get_spark(app_name="trips", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    total_n, total_s, n_queries = 0, 0.0, 0
    tables = os.path.abspath(args.tables)
    for name, trips, seconds in query_trips(spark, tables, names, args.sites):
        print(f"{name:<36} {trips.n:>7} trips {seconds:8.3f} s", flush=True)
        if trips.sites is not None:
            for site, n in trips.sites.most_common():
                print(f"    {n:>7}  {site}")
        total_n, total_s, n_queries = total_n + trips.n, total_s + seconds, n_queries + 1
    print(f"{'total (' + str(n_queries) + ' queries)':<36} {total_n:>7} trips {total_s:8.3f} s")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
