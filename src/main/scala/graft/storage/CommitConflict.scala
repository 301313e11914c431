package graft.storage

/** A conditional commit lost to a rival writer: the catalog moved past
  * the pinned snapshot, or a rival placed the same txn (or version)
  * marker first. The loser has already removed its own staging, so the
  * commit can be re-planned from a fresh snapshot
  * ([[TxnCatalog.retryOnConflict]]). Every other `IOException` is a real
  * storage failure and is never retried. */
final class CommitConflict(msg: String) extends java.io.IOException(msg)
