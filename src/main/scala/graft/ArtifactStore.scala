package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-session persistence for expensive on-disk index artifacts
  * (VERDICT r9 #7): a content-keyed directory plus an atomic-rename
  * publication protocol, so a deterministic build (e.g. the ann14
  * IVF-PQ lifecycle) pays its cold cost ONCE PER MACHINE instead of
  * once per JVM.
  *
  * Protocol (the lock story, cross-JVM safe without a lock file):
  *
  *   1. If `<base>/<name>-<key>/_OK` exists, the artifact is complete
  *      and immutable — reuse it. (_OK is written before publication,
  *      so a visible target is always whole.)
  *   2. Otherwise build into a private `.tmp-<uuid>` sibling, write
  *      `_OK` inside it, then ATOMIC_MOVE it to the target. Directory
  *      rename is atomic on a POSIX filesystem, so concurrent sessions
  *      may build in parallel (wasted work, never corruption) and
  *      exactly one rename wins; losers delete their tmp and adopt the
  *      winner — both get byte-valid artifacts, and determinism of the
  *      build makes them semantically identical.
  *   3. A crashed build leaves only an unpublished `.tmp-*` dir —
  *      never a half-visible target. A target WITHOUT `_OK` can only
  *      be a manual copy or external tampering; fail loudly rather
  *      than trust or overwrite it.
  *
  * Trust boundary (ADVICE r10): the default base is PER-USER
  * (`<tmpdir>/graft-artifacts-<user.name>`, created 0700 where the
  * filesystem supports POSIX permissions), and an adopted artifact
  * dir must be OWNED by the current user — on a multi-user host
  * another account can otherwise pre-plant a completed-looking dir
  * under a predictable content key and poison every reader. A
  * configured `spark.graft.artifact.dir` is trusted as given (the
  * operator chose it; on a cluster it is durable shared storage where
  * JVM-visible "ownership" is the storage ACL's job), but the
  * ownership check still runs wherever the filesystem reports owners.
  *
  * The content key must fingerprint everything the artifact derives
  * from — input data AND the build recipe version — so a data change
  * or semantics change lands in a fresh dir instead of silently
  * reusing a stale one. [[corpusKey]] is the standard fingerprint:
  * order-independent over rows and collision-hardened (xor alone
  * cancels on crafted pairs; xor + sum-mod-2^64 + count requires
  * breaking both folds at the same cardinality).
  *
  * Reclamation (ADVICE r10): nothing is deleted implicitly — eviction
  * of a session memo only forgets the pointer, because another JVM
  * may be mid-read. [[prune]] is the explicit GC: completed dirs
  * whose `_OK` is older than a caller-chosen age (pick one comfortably
  * beyond any session lifetime), plus crashed `.tmp-*` leftovers.
  */
object ArtifactStore {
  val DirKey = "spark.graft.artifact.dir"

  /** `spark.graft.artifact.enabled=false` opts a session out of
    * cross-session hosting: the memoized builders (brick, stagings,
    * candidate/PQ tables) fall back to their session-local
    * checkpoint/persist form. For deployments that must not write
    * shared state (scratch-disk-constrained probes, read-only bases) —
    * correctness is identical either way (the store only relocates
    * WHERE a deterministic build materializes).
    */
  val EnabledKey = "spark.graft.artifact.enabled"

  def enabled(spark: SparkSession): Boolean =
    !spark.conf.getOption(EnabledKey).contains("false")

  /** Size gate for hosting artifacts DERIVED from an input dir
    * (stagings, the brick): hosting pays when many JVMs re-read the
    * same small-to-medium corpus; at probe/stretch scale the derived
    * artifacts are tens of GB and the scratch-disk cost dominates the
    * amortization (round-11 finding: 28 GB of stretch staging
    * artifacts starved the fourth-decade shuffle of disk). Inputs
    * above `spark.graft.artifact.host.maxInputBytes` (default 1 GiB
    * of source-file bytes — covers every gate corpus, excludes the
    * macro stretches) fall back to session-local materialization;
    * corpus-keyed artifacts (PQ/candidate tables over one table) stay
    * hosted at any size — they are output-bounded, not
    * amplification-bounded.
    */
  val MaxInputBytesKey = "spark.graft.artifact.host.maxInputBytes"

  def hostableInput(spark: SparkSession, dir: String): Boolean = {
    val cap = spark.conf.getOption(MaxInputBytesKey)
      .map(_.toLong).getOrElse(1L << 30)
    val p = new org.apache.hadoop.fs.Path(dir)
    val bytes =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case _: java.io.IOException => Long.MaxValue }
    bytes <= cap
  }

  private def baseDir(spark: SparkSession): java.nio.file.Path =
    java.nio.file.Paths.get(spark.conf.getOption(DirKey).getOrElse(
      sys.props.getOrElse("java.io.tmpdir", "/tmp") +
        "/graft-artifacts-" + sys.props.getOrElse("user.name", "anon")))

  def ensure(spark: SparkSession, name: String, contentKey: String)(
      build: String => Unit): String = {
    import java.nio.file.{Files, StandardCopyOption}
    val base = baseDir(spark)
    val target = base.resolve(s"$name-$contentKey")
    def complete = Files.exists(target.resolve("_OK"))
    if (Files.exists(target)) {
      require(complete, s"artifact dir $target exists without its _OK " +
        "completion marker - not produced by ArtifactStore; delete it " +
        "to rebuild")
      requireOwned(target)
      return target.toString
    }
    createPrivateDir(base)
    val tmp = base.resolve(
      s".$name-$contentKey.tmp-${java.util.UUID.randomUUID()}")
    try {
      build(tmp.toString)
      Files.write(tmp.resolve("_OK"), Array.empty[Byte])
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // Another session published first — adopt the winner. rename(2)
        // reports the lost race as EEXIST or ENOTEMPTY, which the JDK
        // surfaces variously as FileAlreadyExistsException,
        // DirectoryNotEmptyException, or a GENERIC FileSystemException
        // (Linux, non-empty target dir — caught by the race spec), so
        // the discriminator is the target's state, not the exception
        // class: a COMPLETE target means a lost race; anything else is
        // a real filesystem error and must propagate.
        case e: java.nio.file.FileSystemException =>
          if (!complete) throw e
          // reclaim the loser's tmp BEFORE the ownership check: a
          // foreign-owned winner must fail adoption, but failing with
          // the tmp still on disk would leak it until a later prune
          // (ADVICE r11)
          deleteRecursively(tmp)
          requireOwned(target)
      }
    } catch {
      case t: Throwable => deleteRecursively(tmp); throw t
    }
    target.toString
  }

  /** The standard content key: `recipe` (bump on any semantics change)
    * + an order-independent fingerprint of `xxhash64(cols…)` over the
    * rows — bit_xor AND sum-mod-2^64 AND count (xor alone is a weak
    * multiset hash: any row-pair whose hashes cancel collides even at
    * equal counts; the sum fold breaks exactly those). One cheap
    * columnar pass, far below the builds it gates. Fails loudly on an
    * empty frame — an empty corpus has no meaningful artifact and the
    * null aggregate would otherwise surface as a bare NPE.
    */
  def corpusKey(df: DataFrame, recipe: String, cols: Column*): String = {
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
      .head()
    val n = r.getLong(0)
    require(n > 0, "corpusKey over an EMPTY frame - refusing to " +
      "fingerprint: an artifact built from zero rows is almost " +
      "certainly a wiring bug (wrong path or a filter that dropped " +
      "everything)")
    val two64 = java.math.BigInteger.ONE.shiftLeft(64)
    val sMod = r.getDecimal(2).toBigInteger.mod(two64)
    recipe + "-" + java.lang.Long.toHexString(r.getLong(1)) + "-" +
      sMod.toString(16) + "-" + n
  }

  /** Content key for artifacts derived from a whole DIRECTORY of input
    * files (the brick: 14 adapters over one testdata dir): md5 over
    * the sorted (path, length, mtime) listing plus `recipe`. File
    * METADATA, not contents — one recursive driver-side listing (the
    * same metadata a table format trusts for snapshot identity), so
    * the key costs milliseconds where a content hash would re-read the
    * corpus it exists to avoid reading. An in-place edit that
    * preserves length AND mtime defeats it; that is not a state any
    * supported writer produces (generators rewrite files).
    */
  def dirKey(spark: SparkSession, dir: String, recipe: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(recipe.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    entries.sorted.foreach(e =>
      md.update(('\n' + e).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Explicit GC of the artifact base: deletes completed artifact dirs
    * whose `_OK` mtime is older than `maxAgeMs`, and crashed `.tmp-*`
    * build dirs older than one hour (by dir mtime — no `_OK` exists).
    * Age is the safety margin against a concurrent reader in another
    * JVM: choose it comfortably beyond any session lifetime. Returns
    * the deleted dir paths.
    */
  def prune(spark: SparkSession, maxAgeMs: Long): Seq[String] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val base = baseDir(spark)
    if (!Files.isDirectory(base)) return Nil
    val now = System.currentTimeMillis()
    // Files.list holds an open directory handle until the stream is
    // closed — without the explicit close every prune call leaked one
    // fd for the JVM's lifetime (ADVICE r11)
    val victims = {
      val listing = Files.list(base)
      try listing.iterator().asScala.filter { d =>
        val ok = d.resolve("_OK")
        if (Files.exists(ok))
          now - Files.getLastModifiedTime(ok).toMillis > maxAgeMs
        else
          d.getFileName.toString.contains(".tmp-") && Files.isDirectory(d) &&
            now - Files.getLastModifiedTime(d).toMillis > 3600000L
      }.toSeq
      finally listing.close()
    }
    victims.foreach(deleteRecursively)
    victims.map(_.toString)
  }

  /** Conf-gated startup GC (VERDICT r11 #7): when
    * `spark.graft.artifact.autoPruneMs` is set, [[prune]] runs with
    * that age at session init (GraftSession.local calls this), so a
    * long-running machine's store stays bounded without an operator
    * cron. DEFAULT OFF — deletion policy is an operator decision: the
    * right age depends on the longest session lifetime on the machine
    * (the same reader-grace reasoning as prune itself), which the
    * library cannot know. Returns the swept dirs (Nil when unset).
    */
  val AutoPruneKey = "spark.graft.artifact.autoPruneMs"

  def autoPrune(spark: SparkSession): Seq[String] =
    spark.conf.getOption(AutoPruneKey) match {
      case Some(age) => prune(spark, age.toLong)
      case None => Nil
    }

  /** Create the base dir owner-private where the filesystem supports
    * POSIX permissions (best effort elsewhere — e.g. a configured
    * cluster path on a non-POSIX store).
    */
  private def createPrivateDir(base: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import java.nio.file.attribute.PosixFilePermissions
    if (!Files.exists(base))
      try Files.createDirectories(base,
        PosixFilePermissions.asFileAttribute(
          PosixFilePermissions.fromString("rwx------")))
      catch {
        case _: UnsupportedOperationException =>
          Files.createDirectories(base): Unit
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
  }

  /** Refuse to adopt an artifact dir owned by another OS user — on a
    * shared host a foreign dir under a predictable key is an index
    * poisoning vector, not a cache hit. Skipped silently where the
    * filesystem cannot report owners.
    */
  private def requireOwned(target: java.nio.file.Path): Unit =
    try {
      val owner = java.nio.file.Files.getOwner(target).getName
      val me = sys.props.getOrElse("user.name", owner)
      require(owner == me, s"artifact dir $target is owned by " +
        s"'$owner', not the current user '$me' - refusing to adopt a " +
        "foreign artifact; set spark.graft.artifact.dir to a private " +
        "path or remove the directory")
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException => ()
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f): Unit)
    }
}
