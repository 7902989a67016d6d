package graft

import graft.operators.Namespace
import org.apache.hadoop.fs.{FileSystem, Path, ParentNotDirectoryException}

/** Namespace edge semantics pinned to the REFERENCE'S OWN TESTS
  * (VERDICT r13 #6): the reference's test suite encodes refusal
  * behavior the operator descriptions never exercise — rename onto an
  * existing path, rename under the source, non-recursive delete of a
  * non-empty directory, mkdirs through a file. Each case below cites
  * the reference test it pins. The backing FileSystem alone does NOT
  * provide these semantics (POSIX rename clobbers an existing dst
  * file), which is exactly why the engine carries them in
  * Namespace.renameStrict/deleteStrict/mkdirsStrict — above the
  * store, where the reference's NameNode enforces them.
  */
class NamespaceContractSpec extends SparkSpec {

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): Path = {
    val dir = new Path(graft.operators.Lake.scratch(s"nscontract/$name"))
    fs.delete(dir, true)
    fs.mkdirs(dir)
    dir
  }

  private def touch(p: Path, content: String = "something"): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readAll(p: Path): String = {
    val in = fs.open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  test("rename refuses an existing destination and never clobbers it (FSDirectory.java:549 'destination exists')") {
    val dir = fresh("rename_exists")
    val a = new Path(dir, "a"); val b = new Path(dir, "b")
    touch(a, "src-bytes"); touch(b, "dst-bytes")
    assert(!Namespace.renameStrict(fs, a, b),
      "rename onto an existing file must refuse")
    // refusal means NOTHING moved: src intact, dst bytes untouched —
    // the raw store would have clobbered b here (POSIX rename(2))
    assert(fs.exists(a) && readAll(a) == "src-bytes")
    assert(readAll(b) == "dst-bytes")
    // same refusal when the move-into resolution collides: dst is a
    // directory already holding an entry named like src
    val d = new Path(dir, "sub"); fs.mkdirs(d); touch(new Path(d, "a"), "in-dir")
    assert(!Namespace.renameStrict(fs, a, d),
      "rename into a dir whose dst/srcName exists must refuse")
    assert(fs.exists(a) && readAll(new Path(d, "a")) == "in-dir")
  }

  test("rename to a destination with a missing parent refuses (TestDFSRename.java: 'test non-existent destination')") {
    val dir = fresh("rename_noparent")
    val a = new Path(dir, "a"); touch(a)
    assert(!Namespace.renameStrict(fs, a,
      new Path(dir, "c/d")), "missing dst parent must refuse")
    assert(fs.exists(a))
    // parent exists but is a FILE → same refusal
    touch(new Path(dir, "pf"))
    assert(!Namespace.renameStrict(fs, a, new Path(dir, "pf/x")))
    assert(fs.exists(a))
  }

  test("rename refuses a destination under the source, but a textual prefix is fine (TestDFSRename.java: 'dst cannot be a file or directory under src')") {
    val dir = fresh("rename_under")
    val src = new Path(dir, "a/b")
    fs.mkdirs(src); touch(new Path(src, "foo"))
    // dst cannot be a file under src
    assert(!Namespace.renameStrict(fs, src, new Path(dir, "a/b/c")))
    // dst cannot be a directory under src
    assert(!Namespace.renameStrict(fs, new Path(dir, "a"), new Path(dir, "a/b")))
    assert(fs.exists(new Path(src, "foo")), "refusal must move nothing")
    // 'dst can start with src, if it is not a directory or file under
    // src': /testPrefix → /testPrefixfile succeeds
    val p = new Path(dir, "testPrefix"); touch(p, "prefix-bytes")
    assert(Namespace.renameStrict(fs, p, new Path(dir, "testPrefixfile")))
    assert(readAll(new Path(dir, "testPrefixfile")) == "prefix-bytes")
    assert(!fs.exists(p))
  }

  test("rename of a path onto itself is a successful no-op; absent source refuses (TestDFSRename.java: 'dst should not be same as src')") {
    val dir = fresh("rename_self")
    val c = new Path(dir, "a/b/c")
    fs.mkdirs(c.getParent); touch(c, "self")
    assert(Namespace.renameStrict(fs, c, c), "rename src → src answers true")
    assert(readAll(c) == "self")
    assert(!Namespace.renameStrict(fs, new Path(dir, "ghost"), new Path(dir, "x")),
      "absent source must refuse ('because source does not exist')")
    // the reference's trailing-slash pair (TestDFSRename.java):
    // rename(/a/b, /a/b/) — dst normalizes to the src DIR, resolves
    // to /a/b/b which is UNDER src → false
    assert(!Namespace.renameStrict(fs, c.getParent, new Path(dir, "a/b/")))
    // rename(/a/b/c, /a/b/c/) — dst normalizes to the src FILE, no
    // dir resolution, same path → true
    assert(Namespace.renameStrict(fs, c, new Path(dir, "a/b/c/")))
    assert(readAll(c) == "self")
  }

  test("rename into an existing directory lands at dst/srcName (FSDirectory.java: 'if (isDir(dst)) dst += srcName')") {
    val dir = fresh("rename_into")
    val f = new Path(dir, "f"); touch(f, "moved")
    val d = new Path(dir, "d"); fs.mkdirs(d)
    assert(Namespace.renameStrict(fs, f, d))
    assert(!fs.exists(f) && readAll(new Path(d, "f")) == "moved")
  }

  test("non-recursive delete of a non-empty directory throws and removes nothing (FSNamesystem.java:2110 'is non empty'; TestDFSShell.java:145)") {
    val dir = fresh("delete_nonrec")
    val parent = new Path(dir, "parent")
    fs.mkdirs(new Path(parent, "child"))
    val e = intercept[java.io.IOException] {
      Namespace.deleteStrict(fs, parent, recursive = false)
    }
    assert(e.getMessage.contains("is non empty"))
    assert(fs.exists(new Path(parent, "child")),
      "the refused delete must remove NOTHING")
    // the recursive form succeeds (TestDFSShell.java:153)
    assert(Namespace.deleteStrict(fs, parent, recursive = true))
    assert(!fs.exists(parent))
    // deleting a missing path answers false, never throws
    assert(!Namespace.deleteStrict(fs, parent, recursive = true))
    // non-recursive delete of an EMPTY dir and of a file both succeed
    val empty = new Path(dir, "empty"); fs.mkdirs(empty)
    assert(Namespace.deleteStrict(fs, empty, recursive = false))
    val f = new Path(dir, "f"); touch(f)
    assert(Namespace.deleteStrict(fs, f, recursive = false))
  }

  test("mkdirs creates missing parents, is idempotent, and throws through a file (FSNamesystem.java:2254; FSDirectory.java:714; TestDFSShell.java:937)") {
    val dir = fresh("mkdirs")
    val deep = new Path(dir, "x/y/z")
    assert(Namespace.mkdirsStrict(fs, deep), "mkdirs creates the whole chain")
    assert(fs.getFileStatus(deep).isDirectory)
    // 'all the users of mkdirs() are used to expect true even if a
    // new directory is not created'
    assert(Namespace.mkdirsStrict(fs, deep), "existing dir answers true")
    // target itself is a file → ParentNotDirectoryException (the
    // shell's '-mkdir over a file: not a directory', TestDFSShell)
    val f = new Path(dir, "file"); touch(f)
    intercept[ParentNotDirectoryException] { Namespace.mkdirsStrict(fs, f) }
    // an ANCESTOR is a file → same refusal, nothing created
    intercept[ParentNotDirectoryException] {
      Namespace.mkdirsStrict(fs, new Path(dir, "file/under/it"))
    }
    assert(!fs.exists(new Path(dir, "file/under")))
  }

  test("a malformed quota file fails with an IOException naming the file") {
    val dir = fresh("quota_malformed")
    val quota = new Path(dir, "_quota")
    Seq("", "ns=x", "ns").foreach { body =>
      touch(quota, body)
      val e = intercept[java.io.IOException](Namespace.readQuota(fs, dir))
      assert(e.getMessage.contains(quota.toString), s"'$body': ${e.getMessage}")
    }
  }

  test("quota verbs carry the TestQuota contract: refusal-at-write, HADOOP-5872, clear resumes, file/absent targets refuse") {
    import graft.operators.Namespace._
    val aux = fresh("quota_verbs/aux")
    // set on a non-existent path refuses (TestQuota 14a)
    assert(!setQuotaStrict(fs, new Path(aux, "ghost"), 3L, QuotaDontSet))
    // set on a FILE refuses (14b); clear on a file refuses (15a)
    val f = new Path(aux, "f"); touch(f)
    assert(!setQuotaStrict(fs, f, 3L, QuotaDontSet))
    assert(!clrQuotaStrict(fs, f))
    val dir = fresh("quota_verbs/q") // admission arena: entries only
    // 0 and negative quotas refuse (16a/16b)
    assert(!setQuotaStrict(fs, dir, 0L, QuotaDontSet))
    assert(!setQuotaStrict(fs, dir, -5L, QuotaDontSet))
    // a valid set records; DontSet leaves the other dimension alone
    assert(setQuotaStrict(fs, dir, 2L, QuotaDontSet))
    assert(Namespace.readQuota(fs, dir) == ((2L, QuotaDontSet)))
    assert(setQuotaStrict(fs, dir, QuotaDontSet, 100L))
    assert(Namespace.readQuota(fs, dir) == ((2L, 100L)))
    // admission refuses the entry that would CROSS the quota and
    // throws the reference's message shape, before any state changes
    fs.mkdirs(new Path(dir, "e1"))
    Namespace.admitQuota(spark, dir, 1L, 0L) // the 2nd entry fits
    fs.mkdirs(new Path(dir, "e2"))
    val e = intercept[java.io.IOException] {
      Namespace.admitQuota(spark, dir, 1L, 0L)
    }
    assert(e.getMessage.contains("NameSpace quota") &&
      e.getMessage.contains("is exceeded"), e.getMessage)
    // HADOOP-5872: setting BELOW usage succeeds; the next write gates
    assert(setQuotaStrict(fs, dir, 1L, QuotaDontSet))
    intercept[java.io.IOException] { Namespace.admitQuota(spark, dir, 1L, 0L) }
    // clear resumes admission (case 8)
    assert(clrQuotaStrict(fs, dir, ns = true, rows = false))
    Namespace.admitQuota(spark, dir, 1L, 0L)
    // row quota refuses on the rows dimension with the DS message
    val e2 = intercept[java.io.IOException] {
      Namespace.admitQuota(spark, dir, 0L, 101L)
    }
    assert(e2.getMessage.contains("DiskSpace quota"), e2.getMessage)
    // FAIL CLOSED (ADVICE r14): a corrupt entry must never read as
    // rows=0 and slip a write past the quota — the usage read
    // propagates out of the gate instead of admitting
    val bad = new Path(dir, "e_corrupt")
    fs.mkdirs(bad)
    touch(new Path(bad, "part-00000.parquet"), "this is not parquet")
    val e3 = intercept[Exception] { Namespace.admitQuota(spark, dir, 0L, 0L) }
    assert(!e3.getMessage.contains("is exceeded"),
      s"expected the broken READ to propagate, not a quota refusal: ${e3.getMessage}")
    fs.delete(bad, true)
    // an EMPTY entry is vacuous usage (0 rows), never a failure
    fs.mkdirs(new Path(dir, "e_empty"))
    Namespace.admitQuota(spark, dir, 0L, 0L)
  }

  test("lake_lifecycle rides the contract verbs end-to-end") {
    val out = graft.operators.Lake.lakeLifecycle.fn(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out.values.forall(identity), s"lifecycle steps: $out")
  }

  test("permission matrix sweep (reference TestDFSPermission.testPermissionChecking): " +
    "ancestor traversal needs execute on every component; each verb's " +
    "required bits per owner/group/other class") {
    // The reference's verifiers encode the per-verb contract
    // (TestDFSPermission.java:477 opAncestorPermission = SEARCH_MASK
    // for EVERY verb; :600/:631/:657/:683/:725/:791/:839 the per-verb
    // parent/file masks): open = parent x + file r; setTimes /
    // setReplication = parent x + file w; stats + list-a-file =
    // parent x only; list-a-dir = parent x + dir r|x; create/mkdirs
    // and delete and each rename side = parent x|w. expectPermissionDeny
    // (:530) masks the requirement to the caller's class — the model
    // this sweep recomputes independently of the engine's checker.
    import spark.implicits._
    // mode triples per combo subtree: (ancestor, parent, terminal)
    // chosen to break each requirement at least once per class
    val combos = Seq(
      (777, 777, 777), // everything allowed for everyone
      (677, 777, 777), // owner lacks x on the ancestor — blocked at traversal
      (757, 575, 747), // group lacks x on parent; other lacks w everywhere
      (777, 577, 777), // owner lacks w on parent — create/delete/rename refused
      (777, 775, 774), // other: parent r+x (no w), file r only
      (111, 333, 0))   // traverse-only ancestors, wx parents, 0 file
    val users = Seq(
      ("user1", Seq.empty[String]),  // the owner class
      ("user2", Seq("grp1")),        // the group class
      ("user3", Seq.empty[String]))  // the other class
    def digit(mode: Int, user: String): Int = user match {
      case "user1" => mode / 100 % 10
      case "user2" => mode / 10 % 10
      case _ => mode % 10
    }
    def has(d: Int, bits: String): Boolean =
      bits.forall { case 'r' => (d & 4) != 0; case 'w' => (d & 2) != 0; case 'x' => (d & 1) != 0 }
    // engine-side manifest: one subtree per combo, all owned by
    // user1/grp1 (file and dir share the terminal mode)
    val manifest = combos.zipWithIndex.flatMap { case ((a, p, t), i) =>
      Seq((s"/c$i", 777), (s"/c$i/anc", a), (s"/c$i/anc/parent", p),
        (s"/c$i/anc/parent/file", t), (s"/c$i/anc/parent/dir", t))
    }.map { case (path, mode) => (path, "user1", "grp1", mode) }
      .toDF("entry", "owner", "grp", "mode")
    // the verb table: (verb, terminal path builder, need)
    val verbs = Seq(
      ("open", "file", "r"), ("set_times", "file", "w"),
      ("stats", "file", ""), ("list_file", "file", ""),
      ("list_dir", "dir", "rx"),
      ("create", "parent", "wx"), ("delete", "parent", "wx"),
      ("rename_src", "parent", "wx"))
    users.foreach { case (user, groups) =>
      val requests = combos.indices.flatMap { i =>
        verbs.map { case (verb, at, need) =>
          val path = at match {
            case "parent" => s"/c$i/anc/parent"
            case x => s"/c$i/anc/parent/$x"
          }
          (s"$i:$verb", path, need)
        }
      }.toDF("req_id", "path", "need")
      val got = graft.api.Graft.lake
        .checkAccess(manifest, "entry", requests, user, groups)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      combos.zipWithIndex.foreach { case ((a, p, t), i) =>
        val (da, dp, dt) = (digit(a, user), digit(p, user), digit(t, user))
        def expect(atParent: Boolean, need: String): Boolean =
          has(da, "x") && (if (atParent) has(dp, need)
          else has(dp, "x") && has(dt, need))
        val model = Map(
          s"$i:open" -> expect(atParent = false, "r"),
          s"$i:set_times" -> expect(atParent = false, "w"),
          s"$i:stats" -> expect(atParent = false, ""),
          s"$i:list_file" -> expect(atParent = false, ""),
          s"$i:list_dir" -> expect(atParent = false, "rx"),
          s"$i:create" -> expect(atParent = true, "wx"),
          s"$i:delete" -> expect(atParent = true, "wx"),
          s"$i:rename_src" -> expect(atParent = true, "wx"))
        model.foreach { case (k, exp) =>
          assert(got(k) == exp, s"user=$user combo=$i case=$k: " +
            s"engine=${got(k)} model=$exp (modes $a/$p/$t)")
        }
      }
    }
    // fail-closed: a path whose component is absent from the manifest
    // refuses even for the owner (the reference throws, never skips)
    val ghost = Seq(("g", "/c0/anc/missing/file", "r")).toDF("req_id", "path", "need")
    val g = graft.api.Graft.lake
      .checkAccess(manifest, "entry", ghost, "user1", Seq.empty)
      .collect().head.getBoolean(1)
    assert(!g, "absent path component must refuse")
  }

  test("setPermission/setOwner mutation verbs (reference TestDFSPermission" +
    ".testPermissionSetting): a revoke takes effect on the NEXT check; " +
    "an ownership change switches the applicable class") {
    // The reference sweeps create-then-setPermission-then-recheck
    // (TestDFSPermission.java:114/:129): permissions are read at
    // check time, never cached across mutations — the engine's chmod
    // (ClientProtocol.java:230 setPermission) and chown (:247
    // setOwner) are columnar manifest transforms whose output feeds
    // the next checkAccess.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.api.Graft
    val ns0 = Seq(
      ("/w", "alice", "grp1", 755),
      ("/w/d", "alice", "grp1", 750),
      ("/w/d/f", "alice", "grp1", 644)).toDF("entry", "owner", "grp", "mode")
    val req = Seq(("r1", "/w/d/f", "r")).toDF("req_id", "path", "need")
    def check(m: org.apache.spark.sql.DataFrame, user: String,
              groups: Seq[String]): Boolean =
      Graft.lake.checkAccess(m, "entry", req, user, groups)
        .collect().head.getBoolean(1)
    // baseline: owner reads through her own 750 dir and 644 file
    assert(check(ns0, "alice", Seq.empty))
    // setPermission revoke on the TERMINAL: 644 -> 200 (owner
    // write-only) — the very next check refuses the read
    val fileRevoked = Graft.lake.chmod(ns0, col("entry") === "/w/d/f", 200)
    assert(!check(fileRevoked, "alice", Seq.empty),
      "terminal read revoke must refuse on the next check")
    // setPermission revoke on the ANCESTOR dir: 750 -> 600 (owner
    // rw, no x) — the walk refuses at traversal even though the
    // terminal still grants r to its owner
    val dirRevoked = Graft.lake.chmod(ns0, col("entry") === "/w/d", 600)
    assert(!check(dirRevoked, "alice", Seq.empty),
      "ancestor execute revoke must refuse the walk")
    // setOwner hands the subtree to bob: alice now falls to the
    // GROUP class (in grp1) on the 750 dir (r-x: ok) and the 644
    // file (r: ok) — still allowed via the class switch...
    val handed = Graft.lake.chown(ns0,
      col("entry").startsWith("/w/d"), "bob")
    assert(check(handed, "alice", Seq("grp1")))
    // ...but outside the group she is the OTHER class: the dir's
    // other digit 0 refuses — same manifest, different principal
    assert(!check(handed, "alice", Seq.empty),
      "ownership change must switch the applicable class")
    // setOwner's group arm (the reference passes username AND
    // groupname, either nullable): regroup to grp2 — alice in grp1
    // loses the group class on the dir and falls to other (0)
    val regrouped = Graft.lake.chown(handed,
      col("entry").startsWith("/w/d"), null, "grp2")
    assert(!check(regrouped, "alice", Seq("grp1")),
      "group reassignment must strip the old group's class")
    assert(check(regrouped, "alice", Seq("grp2")))
  }

  test("sticky bit (reference FSPermissionChecker.java:209 checkStickyBit, " +
    "TestDFSPermission sticky sweep): write-on-dir is not enough under +t — " +
    "only the dir owner or the entry owner deletes; the plain-dir control admits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.api.Graft
    val ns = Seq(
      ("/", "root", "wheel", 755),
      ("/tmp", "root", "users", 1777),      // the /tmp rule
      ("/tmp/af", "alice", "users", 644),
      ("/tmp/bf", "bob", "users", 644),
      ("/shared", "root", "users", 777),    // control: no sticky
      ("/shared/af", "alice", "users", 644)).toDF("entry", "owner", "grp", "mode")
    def can2(m: org.apache.spark.sql.DataFrame, user: String, path: String): Boolean =
      Graft.lake.checkDelete(m, "entry",
          Seq(("r", path)).toDF("req_id", "path"), user, Seq("users"))
        .collect().head.getBoolean(1)
    def can(user: String, path: String): Boolean = can2(ns, user, path)
    // sticky dir: entry owner yes, dir owner yes, OTHER writer no —
    // even though 1777 grants everyone write on the directory
    assert(can("alice", "/tmp/af"), "entry owner deletes under +t")
    assert(can("root", "/tmp/af"), "dir owner deletes under +t")
    assert(!can("bob", "/tmp/af"), "a third party refuses under +t")
    assert(can("bob", "/tmp/bf"), "each owner still deletes their own")
    // control: same shape without sticky — the group writer passes
    assert(can("bob", "/shared/af"), "no sticky: write-on-dir admits")
    // the walk still applies under +t: no write on the parent refuses
    // the entry owner too (sticky ADDS a refusal, never a grant)
    val noW = Graft.lake.chmod(ns, col("entry") === "/tmp", 1755)
    assert(!can2(noW, "alice", "/tmp/af"),
      "sticky never grants: a 1755 parent refuses a non-owner-of-dir writer")
    // fail-closed: deleting a path absent from the manifest refuses
    assert(!can("alice", "/tmp/ghost"), "unknown entry must refuse")
  }

  test("owner gate on the mutation verbs (reference FSPermissionChecker" +
    ".java:147-151 checkOwner): non-owner setPermission/setOwner refuse " +
    "loudly; owner and superuser proceed — set-then-recheck") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.api.Graft
    val ns = Seq(
      ("/w", "alice", "grp1", 755),
      ("/w/f", "alice", "grp1", 644),
      ("/w/g", "bob", "grp1", 644)).toDF("entry", "owner", "grp", "mode")
    // non-owner chmod refuses — and nothing mutates (the verb throws
    // before producing a frame, the reference's whole-call failure)
    intercept[org.apache.hadoop.security.AccessControlException] {
      Graft.lake.chmodAs(ns, col("entry") === "/w/f", 600, caller = "bob")
    }
    intercept[org.apache.hadoop.security.AccessControlException] {
      Graft.lake.chownAs(ns, col("entry") === "/w/f", "bob", null, caller = "bob")
    }
    // a cond matching BOTH owners refuses for either non-super caller
    intercept[org.apache.hadoop.security.AccessControlException] {
      Graft.lake.chmodAs(ns, col("entry").startsWith("/w/"), 600, caller = "alice")
    }
    // owner proceeds: set-then-recheck — the revoke is visible to the
    // next checkAccess over the returned manifest
    val revoked = Graft.lake.chmodAs(ns, col("entry") === "/w/f", 200, caller = "alice")
    val req = Seq(("r1", "/w/f", "r")).toDF("req_id", "path", "need")
    val after = Graft.lake.checkAccess(revoked, "entry", req, "alice", Seq.empty)
      .collect().head.getBoolean(1)
    assert(!after, "owner's own revoke takes effect on the next check")
    // superuser bypasses the gate (the reference's constructor
    // short-circuit) even across mixed ownership
    val handed = Graft.lake.chownAs(ns, col("entry").startsWith("/w/"),
      "carol", "grp2", caller = "admin", superuser = true)
    assert(handed.filter(col("owner") === "carol").count() == 2)
    // a NULL-evaluating cond is not a match for the gate either
    val nullCond = Graft.lake.chmodAs(ns,
      org.apache.spark.sql.functions.lit(null).cast("boolean"), 600, caller = "bob")
    assert(nullCond.collect().map(_.getInt(3)).toSet == Set(755, 644))
  }
}
