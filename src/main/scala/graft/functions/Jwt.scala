package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

/** Minimal HS256 JWT mint/verify for the dd_login surface (SURVEY.md §2
  * A7; reference `src/scalar_function/dd_login.cpp` POSTs credentials to
  * `/v1/login` and receives an accessToken). Zero-egress here, so the
  * server side is a pluggable [[AuthProvider]]; the local provider mints
  * tokens with the same shape a DazzleDuck server returns: subject +
  * database/schema/table claims, HMAC-SHA256 signed.
  */
object Jwt {
  private val enc = Base64.getUrlEncoder.withoutPadding
  private val dec = Base64.getUrlDecoder

  private def hmac(secret: String, data: String): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(secret.getBytes(UTF_8), "HmacSHA256"))
    mac.doFinal(data.getBytes(UTF_8))
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Mint a token. `claims` are flat string pairs (database/schema/table
    * in the reference protocol). Deterministic given `issuedAtSec`. */
  def mint(subject: String, claims: Seq[(String, String)], secret: String,
           issuedAtSec: Long, ttlSec: Long = 3600): String = {
    val header = enc.encodeToString("""{"alg":"HS256","typ":"JWT"}""".getBytes(UTF_8))
    val claimsJson = claims
      .map { case (k, v) => s""""${jsonEscape(k)}":"${jsonEscape(v)}"""" }
      .mkString(",")
    val payloadJson =
      s"""{"sub":"${jsonEscape(subject)}","iat":$issuedAtSec,"exp":${issuedAtSec + ttlSec}""" +
        (if (claimsJson.nonEmpty) s""","claims":{$claimsJson}}""" else "}")
    val payload = enc.encodeToString(payloadJson.getBytes(UTF_8))
    val sig = enc.encodeToString(hmac(secret, s"$header.$payload"))
    s"$header.$payload.$sig"
  }

  /** Verify signature and expiry; returns the decoded payload JSON.
    * A token without a parseable numeric `exp` claim is rejected — an
    * absent expiry must not mean valid-forever. */
  def verify(token: String, secret: String, nowSec: Long): Option[String] = {
    token.split('.') match {
      case Array(h, p, s) =>
        val expected = enc.encodeToString(hmac(secret, s"$h.$p"))
        if (java.security.MessageDigest.isEqual(
              expected.getBytes(UTF_8), s.getBytes(UTF_8))) {
          scala.util.Try {
            val payload = new String(dec.decode(p), UTF_8)
            val exp = """"exp":\s*(\d+)""".r.findFirstMatchIn(payload)
              .map(_.group(1).toLong) // overflow-length digits → Failure → None
            exp.filter(_ >= nowSec).map(_ => payload)
          }.toOption.flatten
        } else None
      case _ => None
    }
  }

  /** Extract a top-level or claims string field from a payload JSON. */
  def field(payloadJson: String, name: String): Option[String] =
    (s""""${java.util.regex.Pattern.quote(name)}":"([^"]*)"""").r
      .findFirstMatchIn(payloadJson).map(_.group(1))
}

/** Server-side login contract (`POST /v1/login` in the reference). */
trait AuthProvider {
  def login(username: String, password: String,
            claims: Seq[(String, String)], issuedAtSec: Long): Option[String]
}

/** In-process provider used in tests and local runs. */
class LocalAuthProvider(secret: String,
                        users: Map[String, String]) extends AuthProvider {
  override def login(username: String, password: String,
                     claims: Seq[(String, String)], issuedAtSec: Long): Option[String] =
    users.get(username).filter(_ == password)
      .map(_ => Jwt.mint(username, claims, secret, issuedAtSec))
}

/** Provider registry backing the `dd_login` SQL function: the url
  * argument selects a provider (the reference would POST to
  * `url/v1/login`; here it's an in-process lookup — zero egress). A
  * call can pin its clock ([[resolveCall]]) for deterministic login
  * output in the correctness gate. Single-JVM registry; on a multi-executor
  * cluster login evaluates wherever the expression runs, so providers
  * must be constructible from configuration shipped with the job. */
object GraftAuth {
  val DefaultSecret = "graft-local-secret"
  val DefaultUrl = "local://auth"

  @volatile private var providers: Map[String, AuthProvider] = Map(
    DefaultUrl -> new LocalAuthProvider(DefaultSecret,
      Map("admin" -> "admin", "alice" -> "pw1")))

  def register(url: String, p: AuthProvider): Unit =
    synchronized { providers = providers + (url -> p) }
  def resolve(url: String): Option[AuthProvider] = providers.get(url)
  def nowSec(): Long = System.currentTimeMillis() / 1000

  /** Resolve a login-call URL of the form `base[?clock=<epochSec>]`.
    * The optional clock query parameter pins the mint time for THAT
    * call only — deterministic tokens (correctness gate, reproducible
    * runs) without mutating the process-global clock, so concurrent
    * queries in the same JVM are unaffected. */
  def resolveCall(url: String): Option[(AuthProvider, Long)] = {
    val qIdx = url.indexOf('?')
    val base = if (qIdx < 0) url else url.substring(0, qIdx)
    val clockParam =
      if (qIdx < 0) None
      else url.substring(qIdx + 1).split('&').collectFirst {
        case p if p.startsWith("clock=") =>
          // malformed pin → failed resolution (NULL login), never a
          // thrown NumberFormatException out of dd_login, and never a
          // silent fallback to the real clock
          scala.util.Try(p.stripPrefix("clock=").toLong).toOption
      }
    clockParam match {
      case Some(None) => None // clock= present but unparseable
      case pin => providers.get(base).map(p => (p, pin.flatten.getOrElse(nowSec())))
    }
  }
}
