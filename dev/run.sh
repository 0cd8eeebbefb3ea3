#!/bin/bash
# Run a graft main class fast (no sbt startup): dev/run.sh graft.Verify <args...>
# The mains: graft.Verify, graft.Bench, graft.MakeScale
# and the dev loop graft.Dev <sfDir> <plan|codegen|final-plan|time> <query>...
CLS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$CLS" "$@"
