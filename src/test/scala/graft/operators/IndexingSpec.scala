package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import Indexing.DiffEntry

/** Prefix index: build, pruned lookup, ordered scan, incremental update
  * (reference: cli/generate-index.ts, tests/generate-index.test.ts,
  * src/diff/extractDiff.ts). */
class IndexingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val herbs = Seq(
    ("arctium-lappa", "Burdock", Seq("root")),
    ("centella-asiatica", "Gotu Kola", Seq("leaf")),
    ("cymbopogon-citratus", "Lemongrass", Seq("leaf", "edible"))
  ).toDF("slug", "name", "tagSlugs")

  private def freshIndexPath = Files.createTempDirectory("graft-idx").toString + "/idx"

  test("build + exact and prefix lookups hit only matching partitions") {
    val path = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("name", "tagSlugs"), path)

    val eq = Indexing.lookup(spark, path, "name", "Burdock").select("slug").collect()
    assert(eq.map(_.getString(0)).toSeq == Seq("arctium-lappa"))

    val sw = Indexing.lookup(spark, path, "name", "Lemon", startsWith = true).collect()
    assert(sw.map(_.getAs[String]("slug")).toSeq == Seq("cymbopogon-citratus"))

    // multi-valued field: one index row per leaf value
    val tag = Indexing.lookup(spark, path, "tagSlugs", "leaf").collect()
    assert(tag.map(_.getAs[String]("slug")).sorted.toSeq ==
      Seq("centella-asiatica", "cymbopogon-citratus"))

    // partition pruning is visible in the plan: only the 'b' prefix dir read
    val plan = Indexing.lookup(spark, path, "name", "Burdock")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("ordered index scan (fwd/bwd) via sorted read") {
    val path = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("name"), path)
    val fwd = Indexing.readIndex(spark, path).filter($"field" === "name")
      .orderBy("value").select("value").collect().map(_.getString(0)).toSeq
    assert(fwd == Seq("Burdock", "Gotu Kola", "Lemongrass"))
  }

  test("incremental update: modify + add + delete rewrite only touched prefixes") {
    val path = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("name"), path)

    Indexing.updateIndex(spark, path, Seq(
      DiffEntry("M", "arctium-lappa", Map("name" -> Seq("Greater Burdock"))),
      DiffEntry("A", "zingiber-officinale", Map("name" -> Seq("Ginger"))),
      DiffEntry("D", "centella-asiatica", Map.empty)
    ))

    val after = Indexing.readIndex(spark, path).filter($"field" === "name")
      .select("slug", "value").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(after == Set(
      ("arctium-lappa", "Greater Burdock"),
      ("zingiber-officinale", "Ginger"),
      ("cymbopogon-citratus", "Lemongrass")))

    // lookups see the update
    assert(Indexing.lookup(spark, path, "name", "Ginger").count() == 1)
    assert(Indexing.lookup(spark, path, "name", "Gotu Kola").count() == 0)

    // The old 'Burdock' partition (prefix=b) held only the modified slug's old
    // row — after the update it must be gone entirely, while prefix=g now
    // holds "Greater Burdock" + "Ginger" and prefix=l (untouched) survives.
    assert(!new java.io.File(s"$path/field=name/prefix=b").exists())
    assert(new java.io.File(s"$path/field=name/prefix=g").exists())
    assert(new java.io.File(s"$path/field=name/prefix=l").exists())
  }

  test("extractDiff classifies A/M/D from two snapshots, skipping unchanged-index records") {
    val oldSnap = Seq(
      ("arctium-lappa", "Burdock", "root notes"),
      ("centella-asiatica", "Gotu Kola", "leaf notes"),
      ("cymbopogon-citratus", "Lemongrass", "grass notes")
    ).toDF("slug", "name", "body")
    val newSnap = Seq(
      ("arctium-lappa", "Greater Burdock", "root notes"),  // M: indexed value changed
      ("cymbopogon-citratus", "Lemongrass", "EDITED body"), // body-only change → NOT emitted
      ("zingiber-officinale", "Ginger", "rhizome notes")    // A
    ).toDF("slug", "name", "body")
    // centella-asiatica dropped → D

    val diff = Indexing.extractDiffEntries(oldSnap, newSnap, "slug", Seq("name"))
      .sortBy(_.slug)
    assert(diff == Seq(
      DiffEntry("M", "arctium-lappa", Map("name" -> Seq("Greater Burdock"))),
      DiffEntry("D", "centella-asiatica", Map("name" -> Seq("Gotu Kola"))),
      DiffEntry("A", "zingiber-officinale", Map("name" -> Seq("Ginger")))))
  }

  test("end-to-end incremental flow: build from v1, diff v1→v2, index matches v2 rebuild") {
    // Mirrors the reference's generate-index.test.ts incremental scenario:
    // the user has two corpus versions, not a hand-built diff list.
    val path = freshIndexPath
    val v2 = Seq(
      ("arctium-lappa", "Greater Burdock", Seq("root")),
      ("cymbopogon-citratus", "Lemongrass", Seq("leaf", "edible")),
      ("zingiber-officinale", "Ginger", Seq("rhizome"))
    ).toDF("slug", "name", "tagSlugs")

    Indexing.writeIndex(herbs, "slug", Seq("name", "tagSlugs"), path)
    val diff = Indexing.updateIndexFromSnapshots(spark, path, herbs, v2,
      "slug", Seq("name", "tagSlugs"))
    assert(diff.map(d => (d.status, d.slug)).sorted == Seq(
      ("A", "zingiber-officinale"), ("D", "centella-asiatica"), ("M", "arctium-lappa")))

    val incremental = Indexing.readIndex(spark, path)
      .select("field", "prefix", "slug", "value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val rebuiltPath = freshIndexPath
    Indexing.writeIndex(v2, "slug", Seq("name", "tagSlugs"), rebuiltPath)
    val rebuilt = Indexing.readIndex(spark, rebuiltPath)
      .select("field", "prefix", "slug", "value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(incremental == rebuilt)
  }

  test("extractDiff is a no-op relation for identical snapshots") {
    assert(Indexing.extractDiff(herbs, herbs, "slug", Seq("name", "tagSlugs")).count() == 0)
  }

  test("file-list diff ≡ snapshot diff when the change feed names the changed slugs") {
    // The git/GitHub diff-provider workflow: same v1→v2 change as the
    // snapshot test, but driven by a changed-path list — the full-outer
    // snapshot diff must NOT be needed to reach the identical DiffEntries.
    val oldSnap = Seq(
      ("arctium-lappa", "Burdock", "root notes"),
      ("centella-asiatica", "Gotu Kola", "leaf notes"),
      ("cymbopogon-citratus", "Lemongrass", "grass notes")
    ).toDF("slug", "name", "body")
    val newSnap = Seq(
      ("arctium-lappa", "Greater Burdock", "root notes"),
      ("cymbopogon-citratus", "Lemongrass", "EDITED body"),
      ("zingiber-officinale", "Ginger", "rhizome notes")
    ).toDF("slug", "name", "body")
    val feed = Indexing.ChangedPaths(
      added = Seq("content/zingiber-officinale.md"),
      modified = Seq("content/arctium-lappa.md", "content/cymbopogon-citratus.md"),
      deleted = Seq("content/centella-asiatica.md"))
    val slugOf = (p: String) => p.stripPrefix("content/").stripSuffix(".md")

    val fromFeed = Indexing.diffFromChangedPaths(newSnap, "slug", Seq("name"),
      feed, slugOfPath = slugOf).sortBy(_.slug)
    val fromSnapshots = Indexing.extractDiffEntries(oldSnap, newSnap, "slug", Seq("name"))
      .sortBy(_.slug)
    // D carries no values on the feed path (updateIndex finds old rows by
    // slug); the body-only M IS emitted without an index to compare against.
    assert(fromFeed == Seq(
      DiffEntry("M", "arctium-lappa", Map("name" -> Seq("Greater Burdock"))),
      DiffEntry("D", "centella-asiatica", Map.empty),
      DiffEntry("M", "cymbopogon-citratus", Map("name" -> Seq("Lemongrass"))),
      DiffEntry("A", "zingiber-officinale", Map("name" -> Seq("Ginger")))))
    assert(fromFeed.map(d => (d.status, d.slug)).filterNot(_._2 == "cymbopogon-citratus")
      == fromSnapshots.map(d => (d.status, d.slug)))
  }

  test("file-list diff reconciles against the corpus and suppresses no-ops via the index") {
    val path = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("name"), path)
    val idx = Some(Indexing.readIndex(spark, path))
    val newSnap = Seq(
      ("arctium-lappa", "Greater Burdock"),   // really modified
      ("cymbopogon-citratus", "Lemongrass")   // feed says M, indexed value unchanged
    ).toDF("slug", "name")
    val feed = Indexing.ChangedPaths(
      added = Seq("phantom-add"),              // A but absent from corpus → D
      modified = Seq("arctium-lappa", "cymbopogon-citratus"),
      deleted = Seq("never-indexed"))          // D the index never held → suppressed
    val diff = Indexing.diffFromChangedPaths(newSnap, "slug", Seq("name"),
      feed, existingIndex = idx).sortBy(_.slug)
    assert(diff == Seq(DiffEntry("M", "arctium-lappa", Map("name" -> Seq("Greater Burdock")))))
  }

  test("a large change feed (>1000 paths) stays correct and planning-safe") {
    // 1200 modified slugs: OptimizeIn collapses the literal list to one
    // InSet node, so the isin path scales; only 3 slugs actually exist
    val newSnap = Seq(
      ("slug-0001", "Alpha"), ("slug-0500", "Beta"), ("slug-1100", "Gamma")
    ).toDF("slug", "name")
    val feed = Indexing.ChangedPaths(
      modified = (0 until 1200).map(i => f"slug-$i%04d"))
    val diff = Indexing.diffFromChangedPaths(newSnap, "slug", Seq("name"), feed)
    // present slugs → M with values; the other 1197 reconcile to D
    assert(diff.count(_.status == "M") == 3)
    assert(diff.count(_.status == "D") == 1197)
    assert(diff.find(_.slug == "slug-0500").get.values == Map("name" -> Seq("Beta")))
  }

  test("end-to-end from a change feed: updateIndexFromChangedPaths matches a v2 rebuild") {
    val path = freshIndexPath
    val v2 = Seq(
      ("arctium-lappa", "Greater Burdock", Seq("root")),
      ("cymbopogon-citratus", "Lemongrass", Seq("leaf", "edible")),
      ("zingiber-officinale", "Ginger", Seq("rhizome"))
    ).toDF("slug", "name", "tagSlugs")
    Indexing.writeIndex(herbs, "slug", Seq("name", "tagSlugs"), path)
    val diff = Indexing.updateIndexFromChangedPaths(spark, path, v2,
      "slug", Seq("name", "tagSlugs"),
      Indexing.ChangedPaths(
        added = Seq("zingiber-officinale"),
        modified = Seq("arctium-lappa"),
        deleted = Seq("centella-asiatica")))
    assert(diff.map(d => (d.status, d.slug)).sorted == Seq(
      ("A", "zingiber-officinale"), ("D", "centella-asiatica"), ("M", "arctium-lappa")))

    val incremental = Indexing.readIndex(spark, path)
      .select("field", "prefix", "slug", "value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val rebuiltPath = freshIndexPath
    Indexing.writeIndex(v2, "slug", Seq("name", "tagSlugs"), rebuiltPath)
    val rebuilt = Indexing.readIndex(spark, rebuiltPath)
      .select("field", "prefix", "slug", "value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(incremental == rebuilt)
  }

  test("prefixOf counts code points exactly like the build-time prefix expression") {
    // The bug class: build-time substring(lower, 1, d) counts CODE POINTS,
    // so a UTF-16 String.take(d) on the lookup side splits a leading
    // surrogate pair and probes a prefix the index never wrote. Assert the
    // driver twin equals the Catalyst expression for astral/accented/plain
    // values at several depths. (Writing emoji partition DIRS is skipped —
    // this container's JVM runs an ASCII sun.jnu.encoding and cannot create
    // such paths; a UTF-8-locale cluster can.)
    val df = Seq(("d1", "😀cat"), ("d2", "Ürgüp"), ("d3", "plain"), ("d4", "émile"))
      .toDF("slug", "name")
    for (depth <- Seq(1, 2, 3)) {
      val rel = Indexing.indexRelation(df, "slug", Seq("name"), depth)
      rel.select("value", "prefix").collect().foreach { r =>
        assert(Indexing.prefixOf(r.getString(0), depth) == r.getString(1),
          s"value=${r.getString(0)} depth=$depth")
      }
    }
    assert(Indexing.prefixOf("😀cat", 1) == "😀") // the pair stays whole
    assert(Indexing.prefixOf("😀cat", 2) == "😀c")
    assert(Indexing.prefixOf("AB", 1) == "a")
  }

  test("empty-string index values survive the HIVE_DEFAULT_PARTITION round-trip") {
    val path = freshIndexPath
    val df = Seq(("doc-1", ""), ("doc-2", "x")).toDF("slug", "name")
    Indexing.writeIndex(df, "slug", Seq("name"), path)
    // empty prefix becomes __HIVE_DEFAULT_PARTITION__ on disk and NULL on a
    // raw read; readIndex restores "" so equality still matches
    assert(Indexing.lookup(spark, path, "name", "")
      .select("slug").collect().map(_.getString(0)).toSeq == Seq("doc-1"))
    // and incremental updates against such an index keep working
    Indexing.updateIndex(spark, path, Seq(DiffEntry("D", "doc-1", Map.empty)))
    assert(Indexing.lookup(spark, path, "name", "").count() == 0)
    assert(Indexing.lookup(spark, path, "name", "x").count() == 1)
  }

  test("crashed partition swap recovers: manifest replay completes the update") {
    val path = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("name"), path)
    // run a normal update to know the expected end state
    val diff = Seq(
      DiffEntry("M", "arctium-lappa", Map("name" -> Seq("Greater Burdock"))),
      DiffEntry("D", "centella-asiatica", Map.empty))
    val expectedPath = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("name"), expectedPath)
    Indexing.updateIndex(spark, expectedPath, diff)
    val expected = Indexing.readIndex(spark, expectedPath)
      .orderBy("field", "prefix", "value", "slug")
      .collect().map(_.toSeq).toSeq

    // simulate the crash window: stage the same update's temp dir + manifest
    // against the ORIGINAL index, but "die" before any partition renames by
    // copying the artifacts a real run produces, then deleting one swapped
    // partition to mimic a half-applied loop
    Indexing.updateIndex(spark, path, diff) // produces the final state...
    // ...now roll one partition back to its pre-update content and plant a
    // manifest claiming the swap for it is still pending WITH its temp data
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gDir   = new org.apache.hadoop.fs.Path(path + "/field=name/prefix=g")
    val tmpDir = new org.apache.hadoop.fs.Path(path + "__graft_update_tmp/field=name/prefix=g")
    fs.mkdirs(tmpDir.getParent)
    fs.rename(gDir, tmpDir) // pretend prefix=g never got renamed in
    val manifest = new org.apache.hadoop.fs.Path(path + "/_graft_update_manifest.json")
    val out = fs.create(manifest, true)
    out.write("""[["name","g",true]]""".getBytes("UTF-8"))
    out.close()

    // recovery replays the pending rename and the index matches the clean run
    Indexing.recoverPendingSwap(spark, path)
    assert(!fs.exists(manifest))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__graft_update_tmp")))
    val recovered = Indexing.readIndex(spark, path)
      .orderBy("field", "prefix", "value", "slug")
      .collect().map(_.toSeq).toSeq
    assert(recovered == expected)
  }

  test("unparseable manifest (torn write): staged update abandoned, index intact") {
    val path = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("name"), path)
    val before = Indexing.readIndex(spark, path)
      .orderBy("field", "prefix", "value", "slug").collect().map(_.toSeq).toSeq
    // a crash DURING the manifest write: temp data staged, manifest torn —
    // the swap loop never started, so recovery must abandon and keep the
    // pre-update index byte-identical
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__graft_update_tmp/field=name/prefix=z")
    fs.mkdirs(tmp)
    val manifest = new org.apache.hadoop.fs.Path(path + "/_graft_update_manifest.json")
    val out = fs.create(manifest, true)
    out.write("""[["name","z",tru""".getBytes("UTF-8")) // truncated mid-token
    out.close()
    Indexing.recoverPendingSwap(spark, path)
    assert(!fs.exists(manifest))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__graft_update_tmp")))
    val after = Indexing.readIndex(spark, path)
      .orderBy("field", "prefix", "value", "slug").collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("bulk frame update (updateIndexFromDiff) ≡ entry path ≡ v2 rebuild, no entry collect") {
    // The 100 TB bulk path: the diff stays a DataFrame end to end. Same
    // v1→v2 change as the snapshot test, driven through extractDiff's FRAME
    // (never collected) — the index must land byte-identical to both the
    // Seq[DiffEntry] path and a from-scratch v2 rebuild, including the
    // pure-deletion partition clear.
    val v2 = Seq(
      ("arctium-lappa", "Greater Burdock", Seq("root")),
      ("cymbopogon-citratus", "Lemongrass", Seq("leaf", "edible")),
      ("zingiber-officinale", "Ginger", Seq("rhizome"))
    ).toDF("slug", "name", "tagSlugs")
    val fields = Seq("name", "tagSlugs")

    val bulkPath = freshIndexPath
    Indexing.writeIndex(herbs, "slug", fields, bulkPath)
    val diffFrame = Indexing.extractDiff(herbs, v2, "slug", fields)
    Indexing.updateIndexFromDiff(spark, bulkPath, diffFrame, fields)

    def state(p: String) = Indexing.readIndex(spark, p)
      .select("field", "prefix", "slug", "value")
      .collect().map(_.toSeq).toSet
    val entryPath = freshIndexPath
    Indexing.writeIndex(herbs, "slug", fields, entryPath)
    Indexing.updateIndexFromSnapshots(spark, entryPath, herbs, v2, "slug", fields)
    val rebuiltPath = freshIndexPath
    Indexing.writeIndex(v2, "slug", fields, rebuiltPath)

    assert(state(bulkPath) == state(rebuiltPath))
    assert(state(bulkPath) == state(entryPath))
    // Gotu Kola (prefix=g under tag-less v2... actually name prefix 'g' holds
    // Ginger + Greater Burdock) — the cleared partition check: Burdock's old
    // prefix=b dir must be gone on the bulk path exactly like the entry path
    assert(!new java.io.File(s"$bulkPath/field=name/prefix=b").exists())
    // unknown-field guard: a diff naming a field outside the configured list
    // must raise, never index under a wrong depth
    val badDiff = Indexing.extractDiff(herbs, v2, "slug", Seq("name"))
    intercept[Exception] {
      Indexing.updateIndexFromDiff(spark, freshIndexPath0(), badDiff, Seq("tagSlugs"))
    }
  }

  private def indexRows(p: String) = Indexing.readIndex(spark, p)
    .select("field", "prefix", "slug", "value").collect().map(_.toSeq).toSet

  test("per-field depths: entry-list and frame updates both land on the v2 rebuild") {
    val v2 = Seq(
      ("arctium-lappa", "Greater Burdock", Seq("root")),
      ("cymbopogon-citratus", "Lemongrass", Seq("leaf", "edible")),
      ("zingiber-officinale", "Ginger", Seq("rhizome"))
    ).toDF("slug", "name", "tagSlugs")
    val fields = Seq("name", "tagSlugs")
    val depthOf = Map("name" -> 2, "tagSlugs" -> 1)
    def written(df: org.apache.spark.sql.DataFrame): String = {
      val p = freshIndexPath
      Indexing.writeIndexResolved(df, "slug", fields.map(f =>
        Indexing.IndexField(f, depthOf(f), graft.api.FieldPath.resolve(df, f))), p)
      p
    }
    val rebuilt = indexRows(written(v2))

    val entryPath = written(herbs)
    Indexing.updateIndexDepths(spark, entryPath,
      Indexing.extractDiffEntries(herbs, v2, "slug", fields), depthOf)
    assert(indexRows(entryPath) == rebuilt)
    assert(new java.io.File(s"$entryPath/field=name/prefix=gr").exists())

    val framePath = written(herbs)
    Indexing.updateIndexFromDiffDepths(spark, framePath,
      Indexing.extractDiff(herbs, v2, "slug", fields), fields, depthOf)
    assert(indexRows(framePath) == rebuilt)

    // a deletion-only entry list names no field; a frame caller must name one
    Indexing.updateIndexDepths(spark, entryPath,
      Seq(DiffEntry("D", "zingiber-officinale", Map.empty)), depthOf)
    assert(indexRows(entryPath) == rebuilt.filterNot(_(2) == "zingiber-officinale"))
    intercept[IllegalArgumentException] {
      Indexing.updateIndexFromDiffDepths(spark, framePath,
        Indexing.extractDiff(herbs, v2, "slug", fields), Seq.empty, depthOf)
    }
  }

  test("a change feed replays a crashed swap before it suppresses no-op deletions") {
    // Plant the crash as "crashed partition swap recovers" does: prefix=g,
    // which holds arctium-lappa's only row, is still pending in the temp dir.
    val path = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("name"), path)
    Indexing.updateIndex(spark, path, Seq(
      DiffEntry("M", "arctium-lappa", Map("name" -> Seq("Greater Burdock"))),
      DiffEntry("D", "centella-asiatica", Map.empty)))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpDir = new org.apache.hadoop.fs.Path(path + "__graft_update_tmp/field=name/prefix=g")
    fs.mkdirs(tmpDir.getParent)
    fs.rename(new org.apache.hadoop.fs.Path(path + "/field=name/prefix=g"), tmpDir)
    val out = fs.create(new org.apache.hadoop.fs.Path(path + "/_graft_update_manifest.json"), true)
    out.write("""[["name","g",true]]""".getBytes("UTF-8"))
    out.close()

    val v2 = Seq(("cymbopogon-citratus", "Lemongrass")).toDF("slug", "name")
    val diff = Indexing.updateIndexFromChangedPaths(spark, path, v2, "slug", Seq("name"),
      Indexing.ChangedPaths(deleted = Seq("arctium-lappa")))
    assert(diff == Seq(DiffEntry("D", "arctium-lappa", Map.empty)))
    // a swap still pending would bring the deleted row back here
    Indexing.recoverPendingSwap(spark, path)
    val rebuiltPath = freshIndexPath
    Indexing.writeIndex(v2, "slug", Seq("name"), rebuiltPath)
    assert(indexRows(path) == indexRows(rebuiltPath))
  }

  private def freshIndexPath0(): String = {
    val p = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("tagSlugs"), p)
    p
  }

  test("gitChangedPaths drives the reference's git diff-provider workflow end to end") {
    // A real git repo fixture: v1 commit → v2 commit with one modify, one
    // add, one delete, one rename — the exact workflow of reference
    // src/diff/providers/git.ts. The parsed ChangedPaths then drives
    // updateIndexFromChangedPaths and must land on the v2 rebuild.
    val repo = Files.createTempDirectory("graft-git").toFile
    def git(args: String*): Unit = {
      val cmd = Seq("git", "-C", repo.getAbsolutePath,
        "-c", "user.name=graft-test", "-c", "user.email=graft@test") ++ args
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"git ${args.mkString(" ")} failed: $out")
    }
    def write(rel: String, text: String): Unit = {
      val f = new java.io.File(repo, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, text.getBytes("UTF-8"))
    }
    git("init", "-q")
    write("content/arctium-lappa.md", "name: Burdock")
    write("content/centella-asiatica.md", "name: Gotu Kola")
    write("content/cymbopogon-citratus.md", "name: Lemongrass")
    write("README.md", "not content")
    git("add", "-A"); git("commit", "-q", "-m", "v1")
    write("content/arctium-lappa.md", "name: Greater Burdock")   // M
    write("content/zingiber-officinale.md", "name: Ginger")      // A
    new java.io.File(repo, "content/centella-asiatica.md").delete() // D
    // rename: old path deleted + new path added (find-renames collapses the
    // pair into an R record; the provider must re-expand it)
    git("mv", "content/cymbopogon-citratus.md", "content/lemongrass-renamed.md")
    write("README.md", "still not content")                      // filtered out
    git("add", "-A"); git("commit", "-q", "-m", "v2")

    val changes = Indexing.gitChangedPaths(repo.getAbsolutePath, "HEAD~1", "HEAD",
      pathFilter = _.startsWith("content/"))
    assert(changes.modified.toSet == Set("content/arctium-lappa.md"))
    assert(changes.added.toSet ==
      Set("content/zingiber-officinale.md", "content/lemongrass-renamed.md"))
    assert(changes.deleted.toSet ==
      Set("content/centella-asiatica.md", "content/cymbopogon-citratus.md"))

    // drive the index: v2 corpus keyed by path-derived slug
    val slugOf = (p: String) => p.stripPrefix("content/").stripSuffix(".md")
    val v2 = Seq(
      ("arctium-lappa", "Greater Burdock"),
      ("lemongrass-renamed", "Lemongrass"),
      ("zingiber-officinale", "Ginger")
    ).toDF("slug", "name")
    val v1 = Seq(
      ("arctium-lappa", "Burdock"),
      ("centella-asiatica", "Gotu Kola"),
      ("cymbopogon-citratus", "Lemongrass")
    ).toDF("slug", "name")
    val path = freshIndexPath
    Indexing.writeIndex(v1, "slug", Seq("name"), path)
    Indexing.updateIndexFromChangedPaths(spark, path, v2, "slug", Seq("name"),
      changes, slugOfPath = slugOf)

    val incremental = Indexing.readIndex(spark, path)
      .select("field", "prefix", "slug", "value")
      .collect().map(_.toSeq).toSet
    val rebuiltPath = freshIndexPath
    Indexing.writeIndex(v2, "slug", Seq("name"), rebuiltPath)
    val rebuilt = Indexing.readIndex(spark, rebuiltPath)
      .select("field", "prefix", "slug", "value")
      .collect().map(_.toSeq).toSet
    assert(incremental == rebuilt)

    // a bad ref range fails loudly with git's own message
    intercept[java.io.IOException] {
      Indexing.gitChangedPaths(repo.getAbsolutePath, "no-such-ref", "HEAD")
    }
  }

  test("githubCompareChangedPaths parses a compare-API payload and drives the index to the rebuild") {
    // A pre-fetched /repos/{repo}/compare/{base}...{head} response body —
    // the reference's GitHub provider maps files[].status to diff records
    // (reference src/diff/providers/github.ts:38-53); fetching is just
    // HTTP plumbing, so the offline payload IS the provider's input. One of
    // each status the API emits, plus a non-content file for the filter.
    val payload = """{
      "status": "ahead", "ahead_by": 2,
      "files": [
        {"status": "modified", "filename": "content/arctium-lappa.md", "additions": 1},
        {"status": "added",    "filename": "content/zingiber-officinale.md"},
        {"status": "removed",  "filename": "content/centella-asiatica.md"},
        {"status": "renamed",  "filename": "content/lemongrass-renamed.md",
         "previous_filename": "content/cymbopogon-citratus.md"},
        {"status": "copied",   "filename": "content/burdock-copy.md",
         "previous_filename": "content/arctium-lappa.md"},
        {"status": "changed",  "filename": "content/mentha-piperita.md"},
        {"status": "unchanged","filename": "content/salvia-officinalis.md"},
        {"status": "modified", "filename": "README.md"}
      ]
    }"""
    val changes = Indexing.githubCompareChangedPaths(payload,
      pathFilter = _.startsWith("content/"))
    assert(changes.modified.toSet ==
      Set("content/arctium-lappa.md", "content/mentha-piperita.md"))
    assert(changes.added.toSet == Set("content/zingiber-officinale.md",
      "content/lemongrass-renamed.md", "content/burdock-copy.md"))
    assert(changes.deleted.toSet ==
      Set("content/centella-asiatica.md", "content/cymbopogon-citratus.md"))

    // the parsed feed drives updateIndexFromChangedPaths onto the v2 rebuild
    val slugOf = (p: String) => p.stripPrefix("content/").stripSuffix(".md")
    val v1 = Seq(
      ("arctium-lappa", "Burdock"),
      ("centella-asiatica", "Gotu Kola"),
      ("cymbopogon-citratus", "Lemongrass"),
      ("salvia-officinalis", "Sage")
    ).toDF("slug", "name")
    val v2 = Seq(
      ("arctium-lappa", "Greater Burdock"),
      ("lemongrass-renamed", "Lemongrass"),
      ("zingiber-officinale", "Ginger"),
      ("burdock-copy", "Greater Burdock"),
      ("mentha-piperita", "Peppermint"),
      ("salvia-officinalis", "Sage")
    ).toDF("slug", "name")
    val path = freshIndexPath
    Indexing.writeIndex(v1, "slug", Seq("name"), path)
    Indexing.updateIndexFromChangedPaths(spark, path, v2, "slug", Seq("name"),
      changes, slugOfPath = slugOf)
    def state(p: String) = Indexing.readIndex(spark, p)
      .select("field", "prefix", "slug", "value")
      .collect().map(_.toSeq).toSet
    val rebuiltPath = freshIndexPath
    Indexing.writeIndex(v2, "slug", Seq("name"), rebuiltPath)
    assert(state(path) == state(rebuiltPath))

    // API error shape (no files[], a message) fails loudly with the message
    val err = intercept[java.io.IOException] {
      Indexing.githubCompareChangedPaths("""{"message": "Not Found",
        "documentation_url": "x"}""")
    }
    assert(err.getMessage.contains("Not Found"))
    // no files[] and no message (github.ts:38's !Array.isArray branch) → empty
    val empty = Indexing.githubCompareChangedPaths("""{"status": "identical"}""")
    assert(empty.added.isEmpty && empty.modified.isEmpty && empty.deleted.isEmpty)
    // a vocabulary surprise must raise, never silently skip a change
    intercept[IllegalStateException] {
      Indexing.githubCompareChangedPaths(
        """{"files": [{"status": "exploded", "filename": "content/x.md"}]}""")
    }
  }

  test("find-by-slug over a bucketed source table prunes with pushdown") {
    val path = freshIndexPath
    Indexing.writeIndex(herbs, "slug", Seq("slug"), path)
    val one = Indexing.lookup(spark, path, "slug", "arctium-lappa")
    assert(one.count() == 1)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") || scan.contains("PartitionFilters"))
  }
}
