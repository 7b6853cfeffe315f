"""Cache maintenance CLI (`spark-cache-maintenance` console script).

Evict aged entries, optionally repair half-present ones, or print the
cache health summary — the cron-able twin of the reference's maintenance
notebook (reference: scripts/clear_old_caches.py). All the work is
driver-side listings and removals of entry directories and their
metadata sidecars — safe to run while jobs are reading caches (entries
are immutable for their key; a reader of a just-removed entry
re-computes and re-writes it).

Usage:
    spark-cache-maintenance [--days 7] [--threads 16] [--database NAME]
        [--dry-run] [--repair-inconsistent] [--force] [--stats]
        [--size-budget-bytes N] [--compact-ledger PATH]
        [--fold-growing-index BASE --fold-out PATH [--truncate-after-fold]]
        [--scan-corrupt] [--scan-corrupt-batches PATH]

Exit codes: 0 = every requested stage ran as scoped; 1 = a corruption
scan stage (--scan-corrupt / --scan-corrupt-batches) found corrupt
entries or batches (the cron-alert signal — the scan itself completed);
2 = an explicitly requested behavior was NOT honored (--size-budget-bytes
/ --repair-inconsistent / --stats under --database act on the CONFIGURED
namespace, not the scoped one — the sidecar registry has no per-database
dimension). Work that is safe as-scoped still runs before the exit-2
(age eviction honors --database; --stats still prints the configured
namespace's summary), so a scripted retry without --database is safe and
idempotent.

The single-shot stages (--stats / --scan-corrupt / --scan-corrupt-batches
/ --compact-ledger / --fold-growing-index) each run alone and exit:
combining two of them, or combining one with an eviction-path flag it
would ignore, is a usage error (exit 2 from argparse, before any work) —
never a silent partial run (`--dry-run --compact-ledger` must not
perform the real compaction).

--fold-growing-index BASE --fold-out PATH folds the sink's index into the
cumulative dataset at PATH; with --truncate-after-fold it then drops the
sink's index, and refuses unless the dataset's `_FOLDED_OK` marker names
BASE and covers every committed batch
(`streaming.truncate_growing_index(BASE, PATH)`).
"""
from __future__ import annotations

import argparse
import logging
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    # default applied after the stage-exclusivity check below, so an
    # EXPLICIT --days combined with an exclusive stage can be refused
    # instead of silently ignored
    ap.add_argument("--days", type=int, default=None,
                    help="evict entries older than this many days (default 7)")
    ap.add_argument("--threads", type=int, default=16)
    ap.add_argument("--database", default=None,
                    help="scope eviction to one cache database")
    ap.add_argument("--dry-run", action="store_true",
                    help="report what would be evicted without deleting")
    ap.add_argument("--repair-inconsistent", action="store_true",
                    help="also remove metadata-without-data / "
                         "data-without-metadata orphans")
    ap.add_argument("--force", action="store_true",
                    help="bypass the diverged-registry safety rails during "
                         "--repair-inconsistent")
    ap.add_argument("--stats", action="store_true",
                    help="print the cache health summary (counts, overlap, "
                         "footprint) and exit without deleting anything")
    ap.add_argument("--size-budget-bytes", type=int, default=None,
                    help="after age eviction, evict oldest-first until the "
                         "cache footprint fits this many bytes")
    ap.add_argument("--compact-ledger", metavar="PATH", default=None,
                    help="fold an exactly-once streaming sink's per-batch "
                         "commit markers at PATH into its manifest and exit "
                         "(crash-safe; see streaming.compact_commit_ledger)")
    ap.add_argument("--fold-growing-index", metavar="BASE", default=None,
                    help="fold a growing_corpus_dedup_sink's ingested index "
                         "at BASE into the cumulative dataset at --fold-out "
                         "and exit (stream stopped, single owner; see "
                         "streaming.fold_growing_index)")
    ap.add_argument("--fold-out", metavar="PATH", default=None,
                    help="cumulative fold output dataset (required with "
                         "--fold-growing-index; must live OUTSIDE the sink "
                         "base; reuse the same path every cycle)")
    ap.add_argument("--truncate-after-fold", action="store_true",
                    help="after a successful fold, drop the sink's ingested "
                         "index + ledger (refused mechanically if any "
                         "committed batch is not covered by the fold's "
                         "_FOLDED_OK marker at --fold-out)")
    ap.add_argument("--scan-corrupt", action="store_true",
                    help="list cache entries whose committed data files no "
                         "longer match their write-time inventory (partial "
                         "restore / copy truncation / bit rot) and exit 1 "
                         "when any are found; read-only. Scans every data "
                         "directory of the cache database, whatever "
                         "cache_path an entry's sidecar uses")
    ap.add_argument("--scan-corrupt-batches", metavar="PATH", default=None,
                    help="list an exactly-once sink's committed batch ids "
                         "whose data dirs fail their recorded inventory at "
                         "PATH and exit 1 when any are found; read-only "
                         "(compaction preserves inventories in the "
                         "manifest, so compacted batches stay audited)")
    args = ap.parse_args()

    if args.fold_growing_index and not args.fold_out:
        ap.error("--fold-growing-index requires --fold-out")
    if args.truncate_after_fold and not args.fold_growing_index:
        ap.error("--truncate-after-fold requires --fold-growing-index")

    # Stage exclusivity: each of these stages runs alone and exits, so
    # combining two of them, or one with an eviction-path flag, would
    # silently ignore the rest of the command line. The worst shapes are
    # mutating: `--dry-run --compact-ledger` and `--dry-run
    # --fold-growing-index` would perform the real compaction/fold while
    # the operator asked for a preview, and `--scan-corrupt
    # --repair-inconsistent` would skip the repair while exiting 0. The
    # documented exit-code contract ("0 = every requested
    # stage ran as scoped") requires refusing these loudly: usage error
    # (exit 2) before any work or Spark startup. --threads composes with
    # every stage and stays allowed.
    exclusive = [
        flag for flag, given in (
            ("--stats", args.stats),
            ("--scan-corrupt", args.scan_corrupt),
            ("--scan-corrupt-batches", args.scan_corrupt_batches),
            ("--compact-ledger", args.compact_ledger),
            ("--fold-growing-index", args.fold_growing_index),
        ) if given
    ]
    if len(exclusive) > 1:
        ap.error(f"{' and '.join(exclusive)} are exclusive stages — invoke "
                 "them as separate commands (each runs alone and exits)")
    if exclusive:
        ignored = [
            flag for flag, given in (
                ("--days", args.days is not None),
                ("--dry-run", args.dry_run),
                ("--repair-inconsistent", args.repair_inconsistent),
                ("--force", args.force),
                ("--size-budget-bytes", args.size_budget_bytes is not None),
                # --stats keeps its own pinned --database contract (ADVICE
                # r9 #4: print the configured namespace's summary, THEN
                # exit 2) — only the other stages ignored it silently
                ("--database",
                 args.database is not None and not args.stats),
            ) if given
        ]
        if ignored:
            ap.error(
                f"{exclusive[0]} runs alone and exits; it would silently "
                f"ignore {', '.join(ignored)} — run the eviction flags as "
                "a separate command"
            )
    days = args.days if args.days is not None else 7

    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(message)s")
    log = logging.getLogger("clear_old_caches")

    if args.scan_corrupt_batches:
        # Pure filesystem listings on local paths — no SparkSession needed
        # (same note as --compact-ledger below).
        from dbfs_spark_cache_spark.streaming import find_corrupt_batches

        corrupt = find_corrupt_batches(args.scan_corrupt_batches)
        if corrupt:
            log.error("corrupt committed batches at %s: %s — data files "
                      "lost or altered after commit",
                      args.scan_corrupt_batches, corrupt)
            return 1
        log.info("no corrupt committed batches at %s",
                 args.scan_corrupt_batches)
        return 0

    if args.compact_ledger:
        # Pure filesystem metadata work on local paths — no SparkSession
        # needed (remote schemes resolve through the active session's JVM,
        # so a cluster cron job runs this inside its Spark app instead).
        from dbfs_spark_cache_spark.streaming import compact_commit_ledger

        folded = compact_commit_ledger(args.compact_ledger)
        log.info("folded %d commit markers into the manifest at %s/_committed",
                 folded, args.compact_ledger.rstrip("/"))
        return 0

    from dbfs_spark_cache_spark import management
    from dbfs_spark_cache_spark.session import get_spark

    spark = get_spark(app_name="cache_maintenance")

    from dbfs_spark_cache_spark.config import config as _config

    if args.fold_growing_index:
        # Distributed read + write, so this stage needs the session (unlike
        # --compact-ledger). Runs alone and exits, mirroring that flag —
        # index maintenance is its own cron line, not an eviction rider.
        from dbfs_spark_cache_spark.streaming import (
            fold_growing_index,
            truncate_growing_index,
        )

        folded = fold_growing_index(spark, args.fold_growing_index, args.fold_out)
        if folded is None:
            log.info("nothing to fold at %s (no committed index batches, "
                     "no previous fold)", args.fold_growing_index)
        else:
            log.info("folded index at %s: %d band rows",
                     args.fold_out, folded.count())
        if args.truncate_after_fold:
            # raises (never silently proceeds) on batch ids the fold at
            # --fold-out does not cover, or on a failed removal
            removed = truncate_growing_index(args.fold_growing_index,
                                             args.fold_out)
            log.info("truncated sink index at %s: %s",
                     args.fold_growing_index,
                     "removed" if removed else "nothing to remove")
        spark.stop()
        return 0

    if args.scan_corrupt:
        corrupt = management.find_corrupt_entries(
            spark, num_threads=args.threads
        )
        spark.stop()
        if corrupt:
            log.error("corrupt cache entries (fail their write-time data "
                      "inventory; reads already refuse them): %s", corrupt)
            return 1
        log.info("no corrupt cache entries")
        return 0

    if args.stats:
        if args.database:
            log.warning(
                "--stats reports the CONFIGURED cache database (%s); "
                "--database scopes eviction only — set CACHE_DATABASE to "
                "inspect another namespace's health",
                # the sidecar registry has no per-database dimension
                _config.CACHE_DATABASE,
            )
        stats = management.cache_stats(spark, num_threads=args.threads)
        for key, value in stats.items():
            log.info("%s: %s", key, value)
        # Exit 2 when --database was passed: the scope was NOT honored
        # (same contract as the refused eviction stages below — an
        # explicitly requested behavior automation can't see in a log
        # warning must be detectable in the exit code).
        # The summary above still printed, so an operator retry without
        # --database needs no re-scoping.
        return 2 if args.database else 0

    # Count the database the eviction actually targets, or the scoped
    # before/after numbers never move no matter how much was evicted.
    # The DEFAULT path sweeps the sidecar registry while the data lives in
    # the database directory — report both counts, because they can
    # legitimately diverge (removed data, data-only orphans) and a single
    # number from the wrong registry reads as "nothing happened".
    def _count_tables() -> str:
        if args.database:
            n = len(
                management.get_tables_from_database(
                    spark, database=args.database, num_threads=args.threads
                )
            )
            return f"{n} data directories in {args.database}"
        n_data = len(
            management.get_cached_tables(spark, num_threads=args.threads)
        )
        n_meta = len(
            management.get_cached_dataframe_metadata(num_threads=args.threads)
        )
        return f"{n_data} data directories / {n_meta} metadata sidecars"

    log.info("%s before maintenance", _count_tables())

    evicted = management.clear_caches_older_than(
        spark,
        num_days=days,
        num_threads=args.threads,
        specific_database=args.database,
        confirm_delete=not args.dry_run,
    )
    log.info("%s %d entries older than %d days%s",
             "would evict" if args.dry_run else "evicted",
             len(evicted), days,
             f": {evicted}" if evicted else "")

    if args.database and (
        args.size_budget_bytes is not None or args.repair_inconsistent
    ):
        # These stages have no database scope: they operate on the
        # CONFIGURED cache database's registries. Running them under a
        # scoped invocation would delete entry directories and sidecars from
        # the exact namespace the operator scoped away from — refuse instead
        # of silently widening the blast radius.
        log.warning(
            "--size-budget-bytes/--repair-inconsistent operate on the "
            "configured cache database (%s) and do not honor --database; "
            "skipping those stages. Re-run without --database (or set "
            "CACHE_DATABASE) to run them.",
            _config.CACHE_DATABASE,
        )
        log.info("%s after maintenance", _count_tables())
        spark.stop()
        # Exit 2, not 0: a cron/scripted operator EXPLICITLY requested
        # stages that never ran — success would hide the skip from
        # automation forever. The age eviction above DID
        # run (it honors --database and is idempotent on re-run), so
        # partial work plus a detectable failure beats refusing
        # everything.
        return 2

    if args.size_budget_bytes is not None:
        sized = management.evict_to_size_budget(
            spark,
            max_bytes=args.size_budget_bytes,
            num_threads=args.threads,
            confirm_delete=not args.dry_run,
        )
        log.info("%s %d entries to fit %d bytes%s",
                 "would evict" if args.dry_run else "evicted",
                 len(sized), args.size_budget_bytes,
                 f": {sized}" if sized else "")

    if args.repair_inconsistent:
        if args.dry_run:
            # Detection is read-only, so a dry run can show the operator
            # exactly which orphans a real run would delete instead of
            # silently skipping the repair half.
            # force flows into the preview too: '--dry-run --force' must
            # show what a forced run WOULD delete, not the refused-empty
            # state of an unforced one.
            orphans = management.find_inconsistent_entries(
                spark, num_threads=args.threads, force=args.force
            )
            log.info("would repair %d inconsistent entries%s", len(orphans),
                     f": {orphans}" if orphans else "")
        else:
            repaired = management.clear_inconsistent_cache(
                spark, num_threads=args.threads, force=args.force
            )
            log.info("repaired %d inconsistent entries%s", len(repaired),
                     f": {repaired}" if repaired else "")

    log.info("%s after maintenance", _count_tables())
    spark.stop()
    return 0



if __name__ == "__main__":
    sys.exit(main())
