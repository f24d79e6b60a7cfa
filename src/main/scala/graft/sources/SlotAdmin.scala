package graft.sources

/** Replication-slot administration (SURVEY §2 O2; reference
  * `pg-bifrost create|drop`, utils/utils.go:38-77) — a driver-side
  * admin action, not a query operator.
  *
  * The contract is provider-shaped: against live Postgres this is
  * `CREATE_REPLICATION_SLOT <name> LOGICAL test_decoding` /
  * `DROP_REPLICATION_SLOT <name>` over a replication connection
  * (idempotent on SQLSTATE 42710 like the reference), issued with the
  * JDBC replication API ([[graft.sources.pg.PgSlotAdmin]]).
  */
trait SlotAdmin {
  /** Idempotent create: returns false if the slot already existed. */
  def createSlot(name: String): Boolean
  def dropSlot(name: String): Unit
}
