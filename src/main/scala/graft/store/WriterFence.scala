package graft.store

/** Path-scoped writer-fencing token — the enforcement primitive behind
  * [[ParquetStore]]'s `fenced` flag, factored out because the repo has
  * MORE one-writer-per-directory contracts than stores: a zipnum
  * cluster dir ([[graft.sources.Warc.writeZipnum]]'s class-doc
  * contract) and a WARC export dir carry the same "one rebuild/export
  * job at a time" rule, and a coordinator can claim a fence on those
  * directories and `check()` before each commit-side step.
  *
  * Protocol (the classic fencing-token pattern):
  *
  *   - CLAIM (construction): commit `epoch.<N>` (N = max on disk + 1)
  *     under `<dir>/.writer_epochs/` as a [[graft.VersionedDir]]
  *     version — an atomic exclusive create on nio and HDFS (both
  *     pinned by FsIOSpec). A lost race (a concurrent claimant won the
  *     same N) retries above the winner. The winner keeps the newest 4
  *     epochs (a short takeover audit trail) and sweeps temp files
  *     left by claimants that died mid-claim.
  *   - CHECK (before every commit-side mutation): list the epochs; a
  *     NEWER epoch means a successor owns the directory — throw
  *     [[FencedWriterException]] before staging, deleting, or
  *     renaming anything. The "current epoch" is DERIVED (max over
  *     the listing), never a mutable pointer, so no torn-pointer
  *     state exists on any backend.
  *   - TAKEOVER: a crashed writer needs no release step — fencing,
  *     not locking: the successor's claim IS the takeover, and there
  *     is no lock to leak.
  *
  * Object stores, honestly: the claim rides the connector's rename
  * (copy-then-delete on s3a/gs), so two simultaneous FIRST claims can
  * race there; the steady-state guarantee — a fenced-out writer FAILS
  * its next `check()` instead of corrupting — holds on every backend,
  * because the check is a listing, not a lock. */
final class WriterFence(val dir: String, val owner: String,
                        val fs: graft.FsIO = graft.FsIO.local) {

  private val epochs = fs.versioned(fs.resolve(dir, ".writer_epochs"), "epoch.")

  /** Highest claimed epoch on disk (0 when none). A listing + name
    * parse — no file reads, no payload data touched. */
  def liveEpoch(): Long = epochs.latest().getOrElse(0L)

  /** This handle's token, claimed at construction. */
  val epoch: Long = {
    fs.mkdirs(epochs.dir)
    val stamp = s"$owner pid=${ProcessHandle.current().pid()}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // A lost race (a rival landed the same number, or its sweep took
    // our temp file) retries above the winner.
    val claimed = Iterator.continually(liveEpoch() + 1L).take(64)
      .find(next => epochs.commit(next, stamp))
      .getOrElse(throw new IllegalStateException(
        s"$owner@$dir: could not claim a writer epoch after 64 " +
          "attempts — a claim storm this sustained means something " +
          "is opening fenced writers in a loop"))
    epochs.sweep(keep = 4)
    claimed
  }

  /** The per-mutation fence check — call before each commit-side
    * step. One directory listing. */
  def check(): Unit = {
    val live = liveEpoch()
    if (live > epoch)
      throw new FencedWriterException(owner, dir, epoch, live)
  }
}
