package graft.schema

import graft.functions.ProtoStruct._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}

/** Wire descriptors (field number + proto type + name) for the messages
  * behind the reference's 10 well-known registry subjects — the decode
  * side of [[EventSchemas]]' declared Spark schemas. Field numbers are
  * read off the reference's proto files (the protos jar: `common.proto`,
  * `tenant_events.proto:18-70`, `auth_events.proto:38-102`,
  * `commands.proto:70-125`).
  *
  * `ProtoSchemas.decode(value, descriptor)` decodes a message in ONE
  * pass over the wire bytes (`functions/ProtoStruct.decodeMessage`, the
  * engine's only protobuf decoder); a field projection is a descriptor
  * that lists just that field. ProtoSchemasSpec pins each subject
  * descriptor's derived `StructType` equal to the corresponding
  * `EventSchemas` struct, so the declared schema system and the decoder
  * structurally cannot drift. This file is the only caller of the
  * `graft_proto_*` SQL functions.
  */
object ProtoSchemas {

  // enums, common.proto:16-131 (names in declared order = wire values)
  private val priority = KEnum(Vector(
    "PRIORITY_UNSPECIFIED", "PRIORITY_LOW", "PRIORITY_MEDIUM",
    "PRIORITY_HIGH", "PRIORITY_CRITICAL"))
  private val organizationType = KEnum(Vector(
    "ORGANIZATION_TYPE_UNSPECIFIED", "ORGANIZATION_TYPE_GOVERNMENT_AGENCY",
    "ORGANIZATION_TYPE_CORPORATION", "ORGANIZATION_TYPE_ACADEMIC_INSTITUTION",
    "ORGANIZATION_TYPE_HEALTHCARE", "ORGANIZATION_TYPE_FINANCIAL_INSTITUTION",
    "ORGANIZATION_TYPE_NON_PROFIT", "ORGANIZATION_TYPE_STARTUP",
    "ORGANIZATION_TYPE_RESEARCH", "ORGANIZATION_TYPE_INDIVIDUAL"))
  private val subscriptionTier = KEnum(Vector(
    "TIER_UNSPECIFIED", "TIER_FREE", "TIER_BASIC", "TIER_PROFESSIONAL",
    "TIER_ENTERPRISE", "TIER_GOVERNMENT"))
  private val isolationStrategy = KEnum(Vector(
    "ISOLATION_UNSPECIFIED", "ISOLATION_SHARED_DATABASE",
    "ISOLATION_SCHEMA_ISOLATION", "ISOLATION_DATABASE_ISOLATION",
    "ISOLATION_HYBRID", "ISOLATION_PHYSICAL_ISOLATION"))

  /** common.proto:38-49. */
  val eventMetadata: IndexedSeq[PField] = Vector(
    PField(1, "event_id", KStr), PField(2, "correlation_id", KStr),
    PField(3, "source_service", KStr), PField(4, "timestamp", KTs),
    PField(5, "version", KI32), PField(6, "headers", KSMap),
    PField(7, "tenant_id", KStr), PField(8, "user_id", KStr),
    PField(9, "priority", priority), PField(10, "retry_count", KI32))

  /** Field 1 of every reference event: the EventMetadata envelope. */
  val envelope: IndexedSeq[PField] = Vector(PField(1, "metadata", KMsg(eventMetadata)))

  /** common.proto:80-88. */
  val address: IndexedSeq[PField] = Vector(
    PField(1, "street", KStr), PField(2, "city", KStr), PField(3, "state", KStr),
    PField(4, "postal_code", KStr), PField(5, "country", KStr),
    PField(6, "latitude", KF64), PField(7, "longitude", KF64))

  /** common.proto:91-97. */
  val contactInfo: IndexedSeq[PField] = Vector(
    PField(1, "email", KStr), PField(2, "phone", KStr), PField(3, "mobile", KStr),
    PField(4, "fax", KStr), PField(5, "address", KMsg(address)))

  /** tenant_events.proto:18-37. */
  val tenantCreated: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)),
    PField(2, "tenant", KMsg(Vector(
      PField(1, "tenant_id", KStr), PField(2, "name", KStr),
      PField(3, "domain", KStr), PField(4, "organization_type", organizationType),
      PField(5, "subscription_tier", subscriptionTier),
      PField(6, "isolation_strategy", isolationStrategy),
      PField(7, "parent_tenant_id", KStr), PField(8, "is_active", KBool),
      PField(9, "created_at", KTs), PField(10, "contact_info", KMsg(contactInfo)),
      PField(11, "settings", KSMap), PField(12, "enabled_features", KRStr)))))

  /** tenant_events.proto:40-51. */
  val tenantUpdated: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)),
    PField(2, "update", KMsg(Vector(
      PField(1, "tenant_id", KStr), PField(2, "changed_fields", KVMap),
      PField(3, "updated_by", KStr), PField(4, "updated_at", KTs)))))

  /** tenant_events.proto:54-60. */
  val tenantActivated: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)), PField(2, "tenant_id", KStr),
    PField(3, "activated_by", KStr), PField(4, "activated_at", KTs),
    PField(5, "reason", KStr))

  /** tenant_events.proto:63-70. */
  val tenantDeactivated: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)), PField(2, "tenant_id", KStr),
    PField(3, "deactivated_by", KStr), PField(4, "deactivated_at", KTs),
    PField(5, "reason", KStr), PField(6, "is_temporary", KBool))

  /** auth_events.proto:38-57. */
  val userLogin: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)),
    PField(2, "login", KMsg(Vector(
      PField(1, "user_id", KStr), PField(2, "tenant_id", KStr),
      PField(3, "username", KStr), PField(4, "email", KStr),
      PField(5, "authentication_method", KStr), PField(6, "ip_address", KStr),
      PField(7, "user_agent", KStr), PField(8, "session_id", KStr),
      PField(9, "login_time", KTs), PField(10, "mfa_used", KBool),
      PField(11, "device_id", KStr), PField(12, "additional_info", KSMap)))))

  /** auth_events.proto:60-73. */
  val userLogout: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)),
    PField(2, "logout", KMsg(Vector(
      PField(1, "user_id", KStr), PField(2, "tenant_id", KStr),
      PField(3, "session_id", KStr), PField(4, "logout_time", KTs),
      PField(5, "logout_reason", KStr), PField(6, "session_duration_ms", KI64)))))

  /** auth_events.proto:76-91. */
  val loginFailed: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)),
    PField(2, "failure", KMsg(Vector(
      PField(1, "username", KStr), PField(2, "tenant_id", KStr),
      PField(3, "failure_reason", KStr), PField(4, "ip_address", KStr),
      PField(5, "user_agent", KStr), PField(6, "attempt_time", KTs),
      PField(7, "failure_count", KI32), PField(8, "account_locked", KBool)))))

  /** auth_events.proto:94-102. */
  val passwordChanged: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)), PField(2, "user_id", KStr),
    PField(3, "tenant_id", KStr), PField(4, "changed_by", KStr),
    PField(5, "changed_at", KTs), PField(6, "forced_change", KBool),
    PField(7, "change_reason", KStr))

  /** commands.proto:70-87. */
  val sendNotification: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)),
    PField(2, "notification", KMsg(Vector(
      PField(1, "recipient_id", KStr), PField(2, "tenant_id", KStr),
      PField(3, "type", KStr), PField(4, "template_id", KStr),
      PField(5, "template_variables", KSMap), PField(6, "subject", KStr),
      PField(7, "body", KStr), PField(8, "priority", priority),
      PField(9, "channels", KRStr), PField(10, "schedule_at", KTs)))))

  /** commands.proto:107-125. */
  val auditLog: IndexedSeq[PField] = Vector(
    PField(1, "metadata", KMsg(eventMetadata)),
    PField(2, "entry", KMsg(Vector(
      PField(1, "tenant_id", KStr), PField(2, "user_id", KStr),
      PField(3, "action", KStr), PField(4, "resource_type", KStr),
      PField(5, "resource_id", KStr), PField(6, "old_value", KAny),
      PField(7, "new_value", KAny), PField(8, "result", KStr),
      PField(9, "timestamp", KTs), PField(10, "ip_address", KStr),
      PField(11, "context", KSMap)))))

  /** Subject → wire descriptor, in [[EventSchemas.wellKnownSubjects]]
    * order (one row per startup-registered subject).
    */
  val wellKnownDescriptors: Seq[(String, IndexedSeq[PField])] = Seq(
    "nnipa.events.tenant.created-value" -> tenantCreated,
    "nnipa.events.tenant.updated-value" -> tenantUpdated,
    "nnipa.events.tenant.activated-value" -> tenantActivated,
    "nnipa.events.tenant.deactivated-value" -> tenantDeactivated,
    "nnipa.events.auth.login-value" -> userLogin,
    "nnipa.events.auth.logout-value" -> userLogout,
    "nnipa.events.auth.login-failed-value" -> loginFailed,
    "nnipa.events.auth.password-changed-value" -> passwordChanged,
    "nnipa.commands.notification.send-value" -> sendNotification,
    "nnipa.commands.audit.log-value" -> auditLog)

  /** One-pass decode of `value` as `descriptor`'s message (session must
    * have `Hashing.register`ed, as with every graft_* function).
    */
  def decode(value: Column, descriptor: Seq[PField]): Column =
    call_function("graft_proto_decode", value, lit(render(descriptor)))

  /** Poison-pill-tolerant [[decode]]: corrupt wire bytes (truncated
    * varint or length, unknown wire type) decode to NULL instead of
    * failing the job — the reference's ErrorHandlingDeserializer contract
    * (E7): one bad record routes to the DLQ and the pipeline survives.
    */
  def decodeSafe(value: Column, descriptor: Seq[PField]): Column =
    call_function("graft_proto_decode_safe", value, lit(render(descriptor)))

  /** One-pass decode by registry subject name. */
  def decodeSubject(value: Column, subject: String): Column =
    decode(value, wellKnownDescriptors.toMap.apply(subject))

  /** Publish-side inverse: serialize a struct column (fields in
    * descriptor order) to proto3 wire bytes.
    */
  def encode(struct: Column, descriptor: Seq[PField]): Column =
    call_function("graft_proto_encode", struct, lit(render(descriptor)))
}
