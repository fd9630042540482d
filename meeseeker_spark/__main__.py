"""CLI — the engine's answer to ``bin/meeseeker``
(/root/reference/bin/meeseeker:19-50): sync / find / reset / verify over a
local keyed store, hermetic (fixture or file-backed sources, parquet
sinks). ``sync`` wraps the streaming pipeline with the reference's
crash-restart backoff loop (bin/meeseeker:25-33 → supervision.py).

Every store ``sync`` and ``schedule`` write (OUT/ops, its ``_meta`` HWM
sibling, OUT/channels, OUT/schedules) is a manifest store
(manifest.ManifestStore); ``compact`` and ``expire --gc`` fold them in
place.

    python -m meeseeker_spark sync --blocks DIR [--vops DIR] --out DIR
    python -m meeseeker_spark compact --ops DIR [--schedules DIR]
    python -m meeseeker_spark schedule --schedules DIR --out DIR
    python -m meeseeker_spark find block 3044538 --store DIR
    python -m meeseeker_spark find trx <id40> --store DIR
    python -m meeseeker_spark scan 'hive:*:vote' --store DIR
    python -m meeseeker_spark reset [chain] --store DIR
    python -m meeseeker_spark verify --store DIR --blocks DIR
    python -m meeseeker_spark prepare --docs PQ --out DIR [--bench PQ]
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark():
    from .session import get_spark
    return get_spark(app_name="meeseeker-cli")


def _fold_in_place(spark, path: str | None, sort_cols: tuple) -> int:
    """Compact a manifest store in place, then gc with one version of
    grace for readers of the superseded manifest (the leftover version
    goes on the next pass; without gc N cycles kept ~N full copies).
    Returns files folded; 0 for a path with no committed manifest."""
    from .manifest import open_committed
    ms = open_committed(spark, path) if path else None
    if ms is None:
        return 0
    n = ms.compact(sort_cols=sort_cols)
    ms.gc(keep_versions=2)
    return n


def _print_rows(df, limit: int = 100) -> int:
    rows = df.limit(limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(recursive=True), default=str,
                         sort_keys=True))
    return len(rows)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="meeseeker_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("sync", help="run the ingest pipeline to a store")
    ps.add_argument("--blocks", required=True,
                    help="block dir (mainnet BLOCKS or ENGINE_BLOCKS shape)")
    ps.add_argument("--vops")
    ps.add_argument("--out", required=True)
    ps.add_argument("--max-restarts", type=int, default=0)
    ps.add_argument("--chain", default="hive",
                    help="key prefix; a *_engine value selects the sidechain "
                         "pipeline (Rakefile:58-62 dispatch); 'auto' detects "
                         "it from --node-config (E7, meeseeker.rb:53-76)")
    ps.add_argument("--node-config",
                    help="path to a get_config JSON response for --chain auto")
    ps.add_argument("--at-block", type=int, default=None,
                    help="explicit first block to sync — the reference's "
                         "`sync [chain] [block_num]` positional "
                         "(Rakefile:54; block_follower_job.rb:106-108 / "
                         "follower_job.rb:116-117): when given it BYPASSES "
                         "the HWM and the --resume-policy decision, exactly "
                         "like at_block_num there")
    ps.add_argument("--resume-policy", action="store_true",
                    help="apply the B10 skip-ahead policy: resume from the "
                         "store HWM, or start fresh at the tip when the gap "
                         "exceeds a TTL's worth of blocks "
                         "(block_follower_job.rb:106-139); overridden by "
                         "--at-block")
    ps.add_argument("--ttl", type=int, default=None,
                    help="expire_keys seconds for --resume-policy "
                         "(default 86400; -1 = never skip)")
    ps.add_argument("--mode", choices=("head", "irreversible"),
                    default="head",
                    help="stream mode (MEESEEKER_STREAM_MODE, "
                         "meeseeker.rb:95): head = read-uncommitted; "
                         "irreversible = hold the youngest blocks in a "
                         "pending area until final")
    ps.add_argument("--lib-lag", type=int, default=None,
                    help="blocks behind head considered reversible in "
                         "--mode irreversible (default: one 21-witness "
                         "round)")

    pm = sub.add_parser("compact",
                        help="fold a sink's per-trigger manifest files "
                             "in place (ops, _meta HWM, channels)")
    pm.add_argument("--ops", required=True)
    pm.add_argument("--schedules",
                    help="also fold the witness-schedule publish log")
    pm.add_argument("--channels",
                    help="channels store of the same sink (default: the "
                         "'channels' sibling of --ops when present)")

    pw = sub.add_parser("schedule",
                        help="witness-schedule publisher (publish-once)")
    pw.add_argument("--schedules", required=True)
    pw.add_argument("--out", required=True)

    pf = sub.add_parser("find", help="find block N / trx ID")
    pf.add_argument("what", choices=["block", "trx"])
    pf.add_argument("ident")
    pf.add_argument("--store", required=True)
    pf.add_argument("--schedules",
                    help="witness-schedule publish dir to include in the "
                         "unified surface (UnifiedStore)")
    pf.add_argument("--chain", default=None,
                    help="restrict the lookup to one chain prefix — the "
                         "reference find task's optional chain arg "
                         "(Rakefile:81-99; its default is the configured "
                         "chain, ours is every chain in the store)")
    pf.add_argument("--schedule-chain", default="hive",
                    help="chain prefix the schedule publish log's derived "
                         "keys carry (same as scan's; without it the "
                         "unified find surface always labeled schedule "
                         "rows 'hive', so `find --chain <other> "
                         "--schedules` could never match them — ADVICE "
                         "r13)")

    pc = sub.add_parser("scan", help="key-glob scan, e.g. 'hive:*:vote' or "
                                     "'hive:witness:schedule:*'")
    pc.add_argument("pattern")
    pc.add_argument("--store", required=True)
    pc.add_argument("--schedules",
                    help="witness-schedule publish dir to include in the "
                         "unified surface (UnifiedStore)")
    pc.add_argument("--schedule-chain", default="hive",
                    help="chain prefix the schedule publish log's derived "
                         "keys carry (the witness:schedule task's [chain] "
                         "arg, Rakefile:70-79; the ops side's chain is in "
                         "its rows already, so this only names the "
                         "schedule keys)")

    pr = sub.add_parser("reset", help="delete a chain's rows (or all)")
    pr.add_argument("chain", nargs="?", default="all")
    pr.add_argument("--store", required=True)

    pe = sub.add_parser("expire",
                        help="TTL retention delete (expire_keys analog): "
                             "rewrites only files holding expired rows, "
                             "in one manifest commit")
    pe.add_argument("--store", required=True)
    pe.add_argument("--ttl", type=int, default=None,
                    help="seconds (default 86400; -1 = never expire)")
    pe.add_argument("--gc", action="store_true",
                    help="also delete unreferenced data files and fold "
                         "small commits")

    pv = sub.add_parser("verify",
                        help="D1/D2 reconciliation vs a blocks dir, or "
                             "--witness round verification (D4)")
    pv.add_argument("--store",
                    help="ops store (required except with --witness, "
                         "which verifies schedules against blocks only)")
    pv.add_argument("--blocks", required=True)
    pv.add_argument("--witness", action="store_true",
                    help="verify witness-schedule rounds instead of trx "
                         "reconciliation (Rakefile:495-643 "
                         "verify:witness:schedule): every scheduled "
                         "witness produced a block in its round; exit "
                         "code = missing+extra count, the reference's "
                         "-(missing+extra) magnitude")
    pv.add_argument("--schedules",
                    help="witness-schedules parquet for --witness")
    pv.add_argument("--engine", action="store_true",
                    help="sidechain D2 reconciliation (ENGINE_BLOCKS shape; "
                         "Rakefile verify:*_engine_block_org)")
    pv.add_argument("--max-blocks", type=int, default=None,
                    help="verify only the newest N blocks — the reference "
                         "verify tasks' max_blocks bound (Rakefile:130-147 "
                         "caps how many live blocks the check runs over; "
                         "the batch analog is the newest N in --blocks)")

    pp = sub.add_parser(
        "prepare",
        help="training-corpus funnel: dedup → decontam → quality → "
             "redact → mixture → pack (ext.pipeline)")
    pp.add_argument("--docs", required=True,
                    help="parquet dir/file with documents-shaped rows")
    pp.add_argument("--bench",
                    help="parquet with benchmark/eval docs to screen against "
                         "(omitted → no decontamination rows removed)")
    pp.add_argument("--out", required=True)
    pp.add_argument("--weights", default=None,
                    help='JSON domain weights, e.g. \'{"en":0.5,"de":0.5}\''
                         " (default: uniform over observed domains)")
    pp.add_argument("--line-df", type=int, default=None,
                    help="opt-in CCNet boilerplate-line strip after "
                         "dedup: drop lines shared by >= N surviving "
                         "docs (ext.lines)")
    pp.add_argument("--span-ngram", type=int, default=None,
                    help="opt-in exact-substring span strip between dedup "
                         "and decontamination (word-gram width, e.g. 50 "
                         "token-ish; ext.spans)")
    pp.add_argument("--ngram", type=int, default=13)
    pp.add_argument("--max-overlap", type=float, default=0.0)
    pp.add_argument("--quality-floor", type=float, default=0.25)
    pp.add_argument("--source-cap", type=int, default=None,
                    help="opt-in per-source document cap (zero-shuffle "
                         "approximate hash cap; ext.mix.domain_cap_hash)")
    pp.add_argument("--blocklist", default=None,
                    help="opt-in C4 word blocklist: comma-joined words; "
                         "docs over --blocklist-max-frac blocked-token "
                         "fraction are dropped (ext.text)")
    pp.add_argument("--blocklist-max-frac", type=float, default=0.0)
    pp.add_argument("--repetition", action="store_true",
                    help="opt-in Gopher n-gram repetition screen "
                         "(ext.text.ngram_repetition): Table A1 "
                         "threshold VALUES applied to an upward-biased "
                         "approximation of the paper's statistic "
                         "(overlapping occurrences' chars count "
                         "multiply — no char marking), so the screen "
                         "rejects somewhat more aggressively than the "
                         "paper's operating point")
    pp.add_argument("--gopher", action="store_true",
                    help="opt-in Gopher/MassiveText quality-rule screen "
                         "(ext.text.gopher_rules, default thresholds)")
    pp.add_argument("--ppl-keep", default=None,
                    help="opt-in CCNet perplexity screen: comma-joined "
                         "buckets to keep, e.g. 'head,middle' (ext.lm)")
    pp.add_argument("--logit-threshold", type=float, default=None,
                    help="opt-in distilled linear-classifier keep cut "
                         "(probability in [0,1]; ext.classifier)")
    pp.add_argument("--dsir-target", default=None,
                    help="opt-in DSIR importance resampling: parquet of "
                         "target-domain docs (requires --dsir-k; ext.dsir)")
    pp.add_argument("--dsir-k", type=int, default=None,
                    help="number of documents DSIR keeps")
    pp.add_argument("--max-tokens", type=int, default=2048)
    pp.add_argument("--temperature", type=float, default=None,
                    help="opt-in mT5 temperature sampling: p ∝ "
                         "size^(1/T) over domains, replacing --weights "
                         "(ext.mix.temperature_sample)")
    pp.add_argument("--doremi-eta", type=float, default=None,
                    help="opt-in DoReMi-style reweighting: one "
                         "multiplicative-weights step on bigram-LM "
                         "excess loss learns the domain weights from "
                         "the post-screen corpus, replacing --weights/"
                         "--temperature (ext.mix.doremi_sample)")
    pp.add_argument("--pack-mode", choices=("chunk", "ffd"),
                    default="chunk",
                    help="packed layout: chunk = concat-and-chunk "
                         "pretraining stream; ffd = no-split "
                         "first-fit-decreasing bins (SFT)")
    pp.add_argument("--shards", type=int, default=0,
                    help="also write OUT/shards/shard=N/: deterministic "
                         "md5-shuffled training shards of the mixed "
                         "corpus (ext.shard; 0 = skip)")
    pp.add_argument("--curriculum", default=None,
                    help="with --shards: order rows INSIDE each shard by "
                         "this corpus column (append ':desc' for "
                         "hardest-first), e.g. 'n_chars' or "
                         "'n_chars:desc' (ext.shard order_by)")

    psc = sub.add_parser(
        "screen",
        help="continuous-ingest dedup screen: drain pending docs from "
             "--incoming through the exact-index/band screen into "
             "--out/corpus (+ flagged/index logs), then print the "
             "per-batch report (streaming.screen; availableNow — each "
             "invocation processes what arrived since the last one and "
             "exits)")
    psc.add_argument("--incoming", default=None,
                     help="dir of documents-shaped parquet files; each "
                          "file is one micro-batch (required unless "
                          "--rebuild-exact-index, which never reads it)")
    psc.add_argument("--out", required=True)
    psc.add_argument("--checkpoint", default=None,
                     help="stream checkpoint dir (default OUT/_ckpt)")
    psc.add_argument("--threshold", type=float, default=0.5,
                     help="near-dup Jaccard threshold")
    psc.add_argument("--exact-index", action="store_true",
                     help="opt-in Bloom exact-dup prescreen (fpx + "
                          "bloom dirs beside the band index)")
    psc.add_argument("--drift-baseline", default=None,
                     help="opt-in: parquet of baseline docs (or a "
                          "(token, n) count table) — each batch writes "
                          "its KL drift summary before screening")
    psc.add_argument("--rebuild-exact-index", action="store_true",
                     help="maintenance mode: rewrite the fpx/bloom "
                          "exact-dup index from the corpus store and "
                          "exit WITHOUT draining incoming — run after "
                          "retention expires corpus batches (a bloom "
                          "cannot unlearn a key, so the stale bitmap "
                          "over-flags until this runs; also the "
                          "recovery for a store built at another bloom "
                          "sizing)")

    a = p.parse_args(argv)

    if a.cmd == "sync":
        from .streaming import pipeline as P
        from .streaming.supervision import run_with_restarts

        chain = a.chain
        if chain == "auto":
            from .chain import chain_key_prefix
            if not a.node_config:
                p.error("--chain auto requires --node-config")
            with open(a.node_config) as f:
                chain = chain_key_prefix(json.load(f))

        # argument validation BEFORE the JVM spin-up (r15 review: the
        # screen branch already follows this rule — a usage error should
        # surface in milliseconds)
        if chain.endswith("_engine") and a.vops:
            p.error("--vops is mainnet-only (virtual engine trxs ride "
                    "inside ENGINE_BLOCKS)")
        if chain.endswith("_engine") and a.mode != "head":
            p.error("--mode is mainnet-only (the sidechain follower polls "
                    "latest blocks only, follower_job.rb:148-185)")
        if chain.endswith("_engine") and a.lib_lag is not None:
            # r15 review: this was the one mainnet-only flag that was
            # silently IGNORED on engine chains while its siblings error
            p.error("--lib-lag is mainnet-only (engine reversibility is "
                    "the staleness policy, resolve_start_block_engine)")

        spark = _spark()

        def run_once():
            from pyspark.sql import functions as F

            engine = chain.endswith("_engine")
            start_at = None
            if a.at_block is not None:
                # reference: an explicit at_block_num bypasses the HWM and
                # the skip-ahead policy (block_follower_job.rb:106-108,
                # follower_job.rb:116-117)
                print(f"Sync from: {a.at_block}")
                start_at = a.at_block
            elif a.resume_policy:
                resolve = (P.resolve_engine_stream_start if engine
                           else P.resolve_stream_start)
                dec = resolve(spark, a.blocks, f"{a.out}/ops", ttl_s=a.ttl)
                # reference wording: block_follower_job.rb:133-137,
                # follower_job.rb:139-143
                print("Starting new sync." if dec.fresh_sync
                      else f"Resuming from block {dec.start_block} ...")
                start_at = dec.start_block
            if engine:
                rows, num_col = (P.read_engine_stream(spark, a.blocks),
                                 "blockNumber")
            else:
                rows, num_col = P.streaming_ops(
                    P.read_block_stream(spark, a.blocks),
                    P.read_vop_stream(spark, a.vops) if a.vops else None,
                    chain=chain), "block_num"
            if start_at is not None:
                rows = rows.where(F.col(num_col) >= start_at)
            if engine:
                q = P.start_engine_ingest(
                    rows, f"{a.out}/ops", f"{a.out}/channels",
                    f"{a.out}/ckpt", chain=chain)
            else:
                q = P.start_ingest(
                    rows, f"{a.out}/ops", f"{a.out}/channels",
                    f"{a.out}/ckpt", mode=a.mode,
                    lib_lag=(P.REVERSIBLE_LAG_BLOCKS if a.lib_lag is None
                             else a.lib_lag))
            q.awaitTermination()
            return P.last_block_num(spark, f"{a.out}/ops")

        last = run_with_restarts(run_once, max_restarts=a.max_restarts)
        print(f"synced through block {last}")
        return 0

    if a.cmd == "compact":
        from .streaming import pipeline as P

        spark = _spark()
        channels = a.channels
        if channels is None:
            sib = os.path.join(os.path.dirname(a.ops.rstrip("/")),
                               "channels")
            channels = sib if os.path.isdir(sib) else None
        n = _fold_in_place(spark, a.ops, ("block_num",))
        # the _meta HWM sibling accumulates one row per trigger (the
        # reference overwrites ONE key); fold it alongside (r14)
        n_meta = P.compact_meta(spark, a.ops)
        n_chan = _fold_in_place(spark, channels, ("channel", "block_num"))
        n_sched = _fold_in_place(spark, a.schedules,
                                 ("next_shuffle_block_num",))
        print(f"compacted {n} manifest files in place"
              + (f"; folded {n_meta} _meta HWM files" if n_meta else "")
              + (f"; folded {n_chan} channel manifest files in place"
                 if n_chan else "")
              + (f"; folded {n_sched} schedule publish files"
                 if n_sched else ""))
        return 0

    if a.cmd == "expire":
        from .manifest import open_committed
        from .schemas import DEFAULT_TTL_S

        ttl = DEFAULT_TTL_S if a.ttl is None else a.ttl
        spark = _spark()
        ms = open_committed(spark, a.store)
        n = ms.expire(ttl) if ms else 0
        if a.gc:
            _fold_in_place(spark, a.store, ("block_num",))
        print(f"expired {n} rows")
        return 0

    if a.cmd == "schedule":
        from .manifest import open_committed
        from .streaming import pipeline as P

        spark = _spark()
        sched_dir = f"{a.out}/schedules"
        q = P.start_schedule_publisher(
            P.read_schedule_stream(spark, a.schedules),
            sched_dir, f"{a.out}/ckpt")
        q.awaitTermination()
        # a cadence invocation before the first schedule arrives commits
        # nothing — report the (normal) empty run, not a read error
        # (r15 review)
        ms = open_committed(spark, sched_dir)
        n = ms.df().count() if ms else 0
        print(f"published {n} schedules")
        return 0

    if a.cmd in ("find", "scan", "reset"):
        from .query import OpsStore, UnifiedStore
        if a.cmd != "reset" and a.schedules:
            store = UnifiedStore(
                _spark(), a.store, a.schedules,
                chain=getattr(a, "schedule_chain", "hive"))
        else:
            store = OpsStore(_spark(), a.store)
        if a.cmd == "find":
            if a.what == "block":
                from .keys import key_int
                block = key_int(a.ident)
                if block is None:
                    p.error(f"find block needs a number, got {a.ident!r}")
                df = store.find_block(block, chain=a.chain)
            else:
                df = store.find_trx(a.ident, chain=a.chain)
            n = _print_rows(df)
            return 0 if n else 1
        if a.cmd == "scan":
            n = _print_rows(store.scan(a.pattern))
            return 0 if n else 1
        store.reset(a.chain)
        print(f"reset chain={a.chain}")
        return 0

    if a.cmd == "prepare":
        from .ext.pipeline import prepare_training_corpus

        if (a.dsir_target is None) != (a.dsir_k is None):
            p.error("--dsir-target and --dsir-k must be given together")
        spark = _spark()
        docs = spark.read.parquet(a.docs)
        if a.bench:
            bench = spark.read.parquet(a.bench)
        else:
            bench = docs.limit(0)
        if a.temperature is not None or a.doremi_eta is not None:
            weights = {}   # ignored: these modes derive p(domain)
        elif a.weights:
            weights = json.loads(a.weights)
        else:
            langs = [r["lang"] for r in docs.select("lang").distinct().collect()
                     if r["lang"] is not None]
            if not langs:
                p.error("--docs has no non-null lang values; pass --weights")
            weights = {l: 1.0 / len(langs) for l in langs}
        build = prepare_training_corpus(
            docs, bench, weights,
            line_df=a.line_df,
            span_ngram=a.span_ngram,
            decontam_ngram=a.ngram, decontam_max_overlap=a.max_overlap,
            quality_floor=a.quality_floor,
            source_cap=a.source_cap,
            blocklist=([w.strip() for w in a.blocklist.split(",")
                        if w.strip()] if a.blocklist else None),
            blocklist_max_frac=a.blocklist_max_frac,
            gopher=a.gopher,
            repetition=a.repetition,
            ppl_keep=(tuple(x.strip() for x in a.ppl_keep.split(","))
                      if a.ppl_keep else None),
            logit_threshold=a.logit_threshold,
            dsir_target=(spark.read.parquet(a.dsir_target)
                         if a.dsir_target else None),
            dsir_k=a.dsir_k,
            max_tokens=a.max_tokens, pack_mode=a.pack_mode,
            temperature=a.temperature, doremi_eta=a.doremi_eta)
        build.corpus.write.mode("overwrite").parquet(f"{a.out}/corpus")
        build.packed.write.mode("overwrite").parquet(f"{a.out}/packed")
        if a.shards:
            from pyspark.sql import functions as SF

            from .ext.shard import write_training_shards

            # read the corpus BACK from the parquet written above: the
            # shard export must not re-execute the post-checkpoint
            # pipeline (quality join, redaction, mixture) a second time.
            # mixture epochs make (doc_id, copy) the row identity; the
            # same ×1000 encode as the pack stage keys the shard hash
            written = spark.read.parquet(f"{a.out}/corpus")
            order_by, ascending = None, True
            if a.curriculum:
                order_by, _, direction = a.curriculum.partition(":")
                if order_by not in written.columns:
                    p.error(f"--curriculum column {order_by!r} not in "
                            f"the corpus columns {written.columns}")
                if direction not in ("", "asc", "desc"):
                    p.error("--curriculum direction must be asc or desc")
                ascending = direction != "desc"
            write_training_shards(
                written.withColumn(
                    "_row_id", SF.col("doc_id") * 1000 + SF.col("copy")),
                f"{a.out}/shards", n_shards=a.shards, id_col="_row_id",
                drop_cols=("_row_id",),
                order_by=order_by, ascending=ascending)
        print(json.dumps(build.report(), sort_keys=True))
        return 0

    if a.cmd == "screen":
        from .streaming.screen import screen_report, start_screen

        # validate BEFORE building the session — a missing arg should
        # error in milliseconds, not after a JVM spin-up
        if not a.rebuild_exact_index and not a.incoming:
            p.error("screen: --incoming is required "
                    "(unless --rebuild-exact-index)")
        spark = _spark()
        if a.rebuild_exact_index:
            from .streaming.screen import rebuild_exact_index
            n = rebuild_exact_index(spark, a.out)
            print(f"rebuilt exact index: {n} fingerprints", file=sys.stderr)
            return 0
        drift = (spark.read.parquet(a.drift_baseline)
                 if a.drift_baseline else None)
        q = start_screen(
            spark, a.incoming, a.out,
            a.checkpoint or f"{a.out}/_ckpt",
            threshold=a.threshold,
            exact_index=a.exact_index,
            drift_baseline=drift)
        q.awaitTermination()
        try:
            _print_rows(screen_report(spark, a.out))
        except FileNotFoundError:
            # a cadence invocation that fired before the first file
            # arrived commits no batch — an empty report, not a crash
            print("no batches committed yet", file=sys.stderr)
        return 0

    # verify
    from .schemas import BLOCKS, ENGINE_BLOCKS
    from .verify import reconcile_blocks, reconcile_engine_blocks

    if a.witness:
        if not a.schedules:
            p.error("verify --witness requires --schedules")
        from pyspark.sql import functions as SF

        from .schemas import WITNESS_SCHEDULES
        from .verify import witness_rounds

        from .query import newest_by_key

        spark = _spark()
        blocks = spark.read.schema(BLOCKS).parquet(a.blocks)
        # dedup on the publish-once boundary BEFORE grading and
        # counting (ADVICE r14): a raw (non-publish-log) capture can
        # re-deliver a round, and a re-delivery carrying a DIFFERENT
        # shuffled array (or a different schedule-object id for the
        # same boundary) would otherwise grade as TWO rows for one
        # round — making "skipped = rounds − graded rows" go negative.
        # The survivor is DETERMINISTIC (r15 review): the publish log
        # (a manifest store) carries each row's batch id and the newest
        # batch wins — the exact rule ScheduleStore's reader applies, so
        # the log verifies identically before and after compaction even
        # when a republish carried a different payload; a raw capture
        # falls back to the payload total order (still deterministic).
        from .manifest import ManifestStore, is_manifest_store
        if is_manifest_store(a.schedules):
            scheds = ManifestStore(spark, a.schedules).df()
        else:   # a raw (non-publish-log) capture
            scheds = spark.read.schema(WITNESS_SCHEDULES) \
                .parquet(a.schedules)
        scheds = newest_by_key(scheds, "next_shuffle_block_num")
        if a.max_blocks is not None:
            tip = blocks.agg(SF.max("block_num")).first()[0]
            if tip is not None:
                # batch analog of the reference's max_blocks bound:
                # verify only rounds ending in the newest N blocks
                scheds = scheds.where(
                    SF.col("next_shuffle_block_num")
                    >= tip - a.max_blocks + 1)
        # count + penalty as ONE distributed aggregate; only the bad
        # rows (scheduled/actual arrays included) ever reach the
        # driver — collecting every graded round made driver memory
        # O(capture), against witness_rounds' own scale-safe design
        # (ADVICE r14).  persist() keeps it one execution of the
        # explode+join, the r14 concern that motivated the collect.
        graded = witness_rounds(blocks, scheds).persist()
        try:
            # ok/penalty are NULL when a capture row carries a NULL
            # scheduled array (array_except(NULL,·) → NULL): such a
            # round is UNGRADABLE, and `where(~ok)` + sum() would
            # silently skip it while count(*) still reports it checked
            # — a malformed capture must fail loudly, not pass (r15
            # review; the pre-r14 code crashed on it, which was at
            # least loud).
            stats = graded.agg(
                SF.count("*").alias("n_rounds"),
                SF.coalesce(SF.sum("penalty"), SF.lit(0)).alias("penalty"),
                SF.count(SF.when(SF.col("ok").isNull(), 1))
                .alias("n_ungradable"),
            ).first()
            n_rounds = int(stats["n_rounds"])
            penalty = int(stats["penalty"])
            n_ungradable = int(stats["n_ungradable"])
            bad = graded.where(
                ~SF.col("ok").eqNullSafe(SF.lit(True))).collect()
        finally:
            graded.unpersist()
        for r in bad:
            print(json.dumps(r.asDict(recursive=True), default=str))
        # witness_rounds verifies only rounds fully covered by --blocks
        # (ADVICE r13: a round straddling the capture tip must not flag
        # its not-yet-captured witnesses); surface what it skipped so a
        # clean exit over a short capture is not mistaken for a full
        # one.  scheds is already distinct on the boundary, so this
        # count can never undershoot the graded rows.
        n_total = scheds.count()
        n_skipped = n_total - n_rounds
        print(f"{n_rounds} rounds checked, {len(bad)} with "
              f"missing/extra witnesses (penalty {penalty})"
              + (f"; {n_skipped} rounds skipped (not fully covered by "
                 f"--blocks)" if n_skipped else ""))
        if not n_rounds and n_total:
            # every round skipped: NOTHING was verified — exit 0 here
            # would let a scripted caller mistake a no-coverage run for
            # a clean full verification (r14 review).  125 is the same
            # sentinel the penalty path saturates at.
            print("error: 0 rounds fully covered by --blocks — nothing "
                  "was verified", file=sys.stderr)
            return 125
        if n_ungradable:
            # printed above among the bad rows (ok=NULL); the exit must
            # not depend on NULL-skipping arithmetic — same sentinel as
            # the no-coverage case: the verification did not complete.
            print(f"error: {n_ungradable} round(s) ungradable (NULL "
                  "scheduled-witness payload in the capture)",
                  file=sys.stderr)
            return 125
        # reference: exit(-(missing+extra)) — same magnitude, positive
        return min(penalty, 125)

    if not a.store:
        p.error("verify requires --store (unless --witness)")
    spark = _spark()
    # layout-aware read (r15 review): a raw parquet read over a
    # manifest-committed store (the default sync layout) sees DEAD data
    # files — rows already expired but not yet gc'd, or orphans from a
    # crashed pre-commit write — and verify would grade rows the query
    # surface no longer serves
    from .query import OpsStore as _OpsStore
    ops = _OpsStore(spark, a.store).df()
    # keep only the verified side's chain rows (r15 review): after
    # `compact` mainnet and engine ops share one store, and block
    # numbers collide across chains generically — unfiltered, engine
    # trx ids leak into a mainnet block's expected set (and vice versa)
    # and a healthy store exits non-zero.  NULL-chain rows classify as
    # neither and are excluded from both sides rather than misverified.
    if "chain" in ops.columns:
        from pyspark.sql import functions as SF
        eng = SF.col("chain").endswith("_engine")
        ops = ops.where(SF.coalesce(eng if a.engine else ~eng,
                                    SF.lit(False)))
    num_col = "blockNumber" if a.engine else "block_num"
    if a.engine:
        blocks = spark.read.schema(ENGINE_BLOCKS).parquet(a.blocks)
    else:
        blocks = spark.read.schema(BLOCKS).parquet(a.blocks)
    if a.max_blocks is not None:
        from pyspark.sql import functions as SF
        tip = blocks.agg(SF.max(num_col)).first()[0]
        if tip is not None:
            floor_num = tip - a.max_blocks + 1
            blocks = blocks.where(SF.col(num_col) >= floor_num)
            ops = ops.where(SF.col("block_num") >= floor_num)
    if a.engine:
        rec = reconcile_engine_blocks(ops, blocks)
    else:
        rec = reconcile_blocks(ops, blocks)
    bad = rec.where("NOT reconciled").collect()
    for r in bad:
        print(json.dumps(r.asDict(recursive=True), default=str))
    print(f"{rec.count()} blocks checked, {len(bad)} mismatched")
    # reference semantics: non-zero exit encodes the mismatch count
    # (Rakefile:263)
    return min(len(bad), 125)


if __name__ == "__main__":
    sys.exit(main())
