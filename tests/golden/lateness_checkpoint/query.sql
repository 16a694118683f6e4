SELECT deviceId, sum(temperature) AS s, count(*) AS n
FROM stream GROUP BY deviceId, TumblingWindow('10s')
WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='2s',
      ALLOWEDLATENESS='20s')
