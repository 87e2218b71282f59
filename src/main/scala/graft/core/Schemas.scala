package graft.core

/** Core row types of the engine (FIXTURES.md §1-2): the input row and the
  * codec's posting. The index tables' columns are written by
  * graft.index.IndexBuilder (see `IndexBuilder.Layout`); their storage is
  * graft.io.TableIO.
  */

/** Engine input row, per BASELINE.json input_hint:
  * Iceberg table (repo, path, commit, lang, content). `sha256` is carried by
  * the generator so the build can enforce the per-row content-sha256
  * invariant (cf. reference crawler/src/storage/content_hash.h:16-28 and
  * doc-id sha256 at data_pipeline/hybrid_processor.py:171-172).
  */
case class SourceFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    sha256: String)

/** One posting before block encoding. */
case class Posting(docId: Long, tf: Int, dl: Int, positions: Array[Int])
